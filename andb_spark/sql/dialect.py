"""DuckDB-dialect normalization: DuckDB spellings of SQL lowered onto
Spark SQL as a pure text → text rewrite, so Catalyst plans everything
JVM-side. ``normalize`` is the one entry point: the engine runs it
once on every statement and once on every stored view, materialized
view and macro body before planning it. ``escape_backslash_literals``
runs earlier, before macro expansion. Nothing here reads engine state
or needs a Spark session."""

from __future__ import annotations

import itertools
import re
from collections.abc import Iterator

from andb_spark.sql.scan import (
    EngineError,
    blank_literals,
    match_bracket,
    match_bracket_back,
    paren_depth_at,
    parse_order_item,
    split_top_level,
    sub_outside_literals,
)

# Every DuckDB function the dialect rewrites, in one table that the
# entry trigger, the call dispatch in _map_list_functions and the
# rename pass all read. A name maps to None when _map_list_functions
# templates the call (argument surgery), or to its Spark spelling when
# a rename suffices (same argument list, same 1-based/NULL semantics).
# Each mapping is DuckDB-probed.
_FUNCTIONS: dict[str, str | None] = {
    **dict.fromkeys(
        """list_sort list_reverse_sort list_unique list_prepend
        list_slice array_slice list_concat list_cat list_sum list_avg
        list_aggregate list_aggr jaccard hamming mismatches even fdiv
        gcd greatest_common_divisor lcm least_common_multiple
        string_agg group_concat array_to_string regexp_split_to_array
        string_split_regex str_split_regex quantile_disc quantile
        unicode generate_series time_bucket log trunc isinf isfinite
        ord monthname dayname century decade list_distinct
        array_unique regexp_full_match epoch_ns epoch_ms
        list_any_value list_has_any list_has_all list_dot_product
        list_inner_product list_intersect list_resize list_where
        list_select range datesub array_concat array_cat arg_max
        argmax arg_min argmin geomean geometric_mean struct_pack
        struct_extract list array_agg strftime strptime try_strptime
        regexp_matches regexp_extract left right substr substring
        regexp_replace date_diff datediff date_sub date_add dayofweek
        isodow weekday epoch xor sign to_base string_split str_split
        string_to_array format extract first last product skewness
        kurtosis""".split()
    ),
    "array_push_back": "array_append",
    "array_extract": "try_element_at",
    "array_length": "size",
    "list_indexof": "array_position",
    "list_position": "array_position",
    "list_contains": "array_contains",
    "list_transform": "transform",
    "list_extract": "try_element_at",
    "list_reverse": "reverse",
    "list_append": "array_append",
    "list_filter": "filter",
    "list_apply": "transform",
    "list_value": "array",
    "list_pack": "array",
    "list_has": "array_contains",
    "list_max": "array_max",
    "list_min": "array_min",
    "unnest": "explode",
    "starts_with": "startswith",
    "ends_with": "endswith",
    "strpos": "instr",
    "quantile_cont": "percentile",
    "arbitrary": "any_value",
    "fsum": "sum",
    "sumkahan": "sum",
    "kahan_sum": "sum",
    "favg": "avg",
    # r14 breadth batch (each DuckDB-probed: values and NULL
    # behavior agree under the rename)
    "editdist3": "levenshtein",
    "datetrunc": "date_trunc",
    "today": "current_date",
    "array_reverse": "reverse",
    "list_cosine_similarity": "cosine_similarity",
    "list_cosine_distance": "cosine_distance",
    "suffix": "endswith",
    "prefix": "startswith",
    "to_hex": "hex",
    "from_hex": "unhex",
    # epoch_ms is templated, not renamed: DuckDB overloads it by
    # argument type (BIGINT → TIMESTAMP, TIMESTAMP → BIGINT — r14
    # ADVICE #2); epoch_us has no integer overload (probed: binder
    # error) and stays a rename
    "epoch_us": "unix_micros",
    "week": "weekofyear",
    "len": "size",
}


def _calls(names) -> re.Pattern:
    """A call to any of ``names``; group 1 is the name as written."""
    return re.compile(r"\b(" + "|".join(names) + r")\s*\(", re.I)


# A statement that calls none of the functions and holds no bracket or
# brace skips the collection rewrite (the operator refusals still run).
_TRIGGER_RE = re.compile(r"[\[{]|" + _calls(_FUNCTIONS).pattern, re.I)
_TEMPLATED_RE = _calls(n for n, to in _FUNCTIONS.items() if to is None)
_RENAMED_RE = _calls(n for n, to in _FUNCTIONS.items() if to)
_BARE_VARCHAR_RE = re.compile(r"\bvarchar\b(?!\s*\()", re.I)
# Lambda variables the templates introduce are this reserved prefix
# plus a counter local to one normalize() call: the output is the same
# on every call, and a user column cannot be shadowed unless its name
# takes the prefix.
_LAMBDA_PREFIX = "__lv"


def normalize(stmt: str) -> str:
    """Dialect normalization applied to every statement class:
    the function and list/struct expression rewrite
    (``_rewrite_collections``) followed by DuckDB's
    default-NULLS-LAST ordering injection and the string-cast
    passes — one entry point so the engine's statement entry and
    every stored-body replan path normalize identically. It is NOT
    idempotent: a second run wraps skewness/kurtosis in a second
    bias correction and renames already-named string casts, so
    apply it exactly once per text."""
    out = _inject_order_nulls_last(_rewrite_collections(stmt))
    # DuckDB string-type spellings in CAST position (r13 verdict
    # #1/#2): text / char varying / ::text → varchar, and a
    # cast's varchar(n) length is DROPPED (DuckDB ignores it —
    # probed: cast(12345 as varchar(3)) returns '12345' — where
    # Spark would truncate); then unaliased select-item string
    # casts gain DuckDB's output column name as an explicit
    # alias, which both matches the oracle schema and stops
    # ORDER BY from silently capturing Spark's auto-alias.
    if re.search(
        r"::\s*text\b|\bchar(?:acter)?\s+varying\b"
        r"|\b(?:try_)?cast\s*\(", out, re.I,
    ):
        out = _normalize_string_cast_spellings(out)
    # DuckDB's length-free VARCHAR (casts, ::varchar, bare DDL
    # types) → Spark's string: Spark refuses VARCHAR without a
    # length (r13). Parenthesized VARCHAR(n) stays.
    if _BARE_VARCHAR_RE.search(out):
        out = sub_outside_literals(_BARE_VARCHAR_RE, "string", out)
    # AFTER the type substitution (so the appended backticked
    # alias text is never itself rewritten): unaliased
    # select-item string casts gain DuckDB's output column name.
    if re.search(
        r"\b(?:try_)?cast\s*\(|::\s*string\b", out, re.I
    ):
        out = _alias_unaliased_string_casts(out)
    if re.search(r"\bsimilar\s+to\b", out, re.I):
        out = _rewrite_similar_to(out)
    return out


def escape_backslash_literals(stmt: str) -> str:
    """DuckDB keeps backslashes inside string literals VERBATIM;
    Spark's parser C-escapes them, so ``'\\d'`` reaches the regex
    engine as ``d`` — silently corrupting every character-class
    pattern in ported SQL (r12 probe). Double them ONCE where the
    statement enters the engine, so Spark's unescaping lands the
    original byte. Stored view/macro/PREPARE bodies stay pristine
    and normalize at their replan / expansion / EXECUTE re-entry,
    each starting from the pristine text — the pass never applies
    twice to the same literal. (The session-wide alternative,
    spark.sql.parser.escapedStringLiterals=true, also disables
    the '' quote escape — probed: 'it''s' kept the doubled
    quote — so the targeted rewrite it is.)"""
    if "\\" not in stmt:
        return stmt
    b = blank_literals(stmt)
    out: list[str] = []
    for i, c in enumerate(stmt):
        out.append(c)
        if c == "\\" and b[i] == " ":  # blanked ⇒ inside a literal
            out.append("\\")
    return "".join(out)


def _rewrite_collections(stmt: str) -> str:
    """DuckDB list/struct EXPRESSION dialect (r11 verdict #1 —
    the engine's one silent seam), lowered onto Spark's native
    collection functions as a pure text rewrite so Catalyst
    plans everything JVM-side. DuckDB-probed semantics:

    - INDEXING ``xs[n]`` → ``try_element_at(xs, n)``: 1-based,
      negative counts from the end, NULL on out-of-bounds AND on
      index 0/NULL (Spark's try_element_at raises
      INVALID_INDEX_OF_ZERO, so indexes not provably nonzero get
      a CASE guard)
    - SLICING ``xs[a:b]`` (either bound may be open) →
      ``slice()`` with DuckDB's clamps: OOB bounds clamp to the
      list, b < a yields an empty list, negative bounds count
      from the end; a slice STEP (second colon) refuses by name
    - LIST literals ``[e1, e2]`` / ANSI ``ARRAY[e1, e2]`` →
      ``array(e1, e2)``
    - STRUCT literals ``{'k': v}`` / ``{k: v}`` →
      ``named_struct('k', v)``
    - ``len(x)`` → ``size(x)`` (DuckDB's list length; spell
      string length ``length()`` — shared by both engines)
    - a string-LITERAL base ``'abc'[2]`` / ``'abc'[2:4]`` →
      ``substr`` (1-based characters, DuckDB-probed); string
      COLUMNS under brackets are not typed-resolvable in a text
      rewrite and surface Spark's type error

    Empty bracket pairs are TYPE spellings (``int[]``) and pass
    through untouched. Runs once per text, inside ``normalize``."""
    if not _TRIGGER_RE.search(stmt):
        # ambiguous-operator refusals must still run: `2 ^ 3`
        # carries none of the trigger names
        _refuse_ambiguous_operators(stmt)
        return stmt
    _refuse_ambiguous_operators(stmt)
    out = _map_list_functions(stmt, itertools.count())
    pos = 0
    for _ in range(5000):  # bounded: each pass resolves one site
        b = blank_literals(out)
        i = next(
            (j for j in range(pos, len(b)) if b[j] in "[{"), None
        )
        if i is None:
            return out
        if b[i] == "{":
            close = match_bracket(b, i)
            inner, ib = out[i + 1: close], b[i + 1: close]
            args = []
            for it_b, it in zip(
                split_top_level(ib),
                split_top_level(inner),
            ):
                ci = _top_level_colon(it_b)
                if ci is None:
                    raise EngineError(
                        "struct literal field needs 'key':"
                        f" value — got {it.strip()!r}"
                    )
                key, val = it[:ci].strip(), it[ci + 1:].strip()
                if re.fullmatch(r"'(?:[^']|'')*'", key):
                    kq = key
                elif re.fullmatch(r"\w+", key):
                    kq = f"'{key}'"
                else:
                    raise EngineError(
                        f"bad struct literal key: {key!r}"
                    )
                args.append(f"{kq}, {val}")
            out = (
                out[:i] + "named_struct(" + ", ".join(args) + ")"
                + out[close + 1:]
            )
            continue
        close = match_bracket(b, i)
        inner, ib = out[i + 1: close], b[i + 1: close]
        k = i - 1
        while k >= 0 and b[k].isspace():
            k -= 1
        prev = b[k] if k >= 0 else ""
        if not inner.strip():
            if prev.isalnum() or prev in "_`\")]":
                pos = close + 1  # type spelling: int[]
            else:  # DuckDB empty-list literal
                out = out[:i] + "array()" + out[close + 1:]
            continue
        base_start: int | None = None
        is_string = False
        drop_array_kw = False
        if prev == "'":
            q = k - 1
            while q >= 0 and b[q] != "'":
                q -= 1
            base_start, is_string = q, True
        elif prev == ")" or prev.isalnum() or prev in '_`"$':
            base_start = _expr_base_start(b, k + 1)
            base_txt = out[base_start: k + 1].strip()
            if re.fullmatch(r"\w+", base_txt):
                bl = base_txt.lower()
                if bl in _BRACKET_KEYWORDS:
                    drop_array_kw = bl == "array"
                    if not drop_array_kw:
                        base_start = None
        if base_start is None or drop_array_kw:
            start = base_start if drop_array_kw else i
            out = (
                out[:start] + "array(" + inner + ")"
                + out[close + 1:]
            )
            continue
        base = out[base_start:i].strip()
        ci = _top_level_colon(ib)
        if ci is None:  # plain index
            idx = inner.strip()
            if not is_string and re.fullmatch(
                r"\s*'[^']*'\s*", ib
            ):
                # string-literal index = struct field / map key
                # access (st['name'], m['key']) — native Spark
                # syntax with the same semantics as DuckDB's
                # struct_extract / map lookup; pass through
                # untouched (r12 ADVICE #1: the int-cast path
                # silently NULLed these)
                pos = close + 1
                continue
            if is_string:
                repl = f"substr({base}, {idx}, 1)"
            elif re.fullmatch(r"-?\d+", idx) and idx != "0":
                repl = f"try_element_at({base}, {idx})"
            else:
                # try_element_at needs an INT index (bigint
                # expressions abound: any key arithmetic);
                # try_cast keeps beyond-int32 indexes NULL (OOB
                # by construction) instead of an ANSI overflow
                repl = (
                    f"(case when ({idx}) = 0 then null else"
                    f" try_element_at({base},"
                    f" try_cast(({idx}) as int)) end)"
                )
        else:  # slice
            if _top_level_colon(ib[ci + 1:]) is not None:
                raise EngineError(
                    "list slice with a STEP is not supported —"
                    " slice [a:b] then filter instead"
                )
            a, c = inner[:ci].strip(), inner[ci + 1:].strip()
            if is_string:
                s = a or "1"
                ln = (
                    f"({c}) - ({s}) + 1" if c
                    else f"length({base})"
                )
                repl = f"substr({base}, {s}, {ln})"
            else:
                size_b = f"size({base})"
                if not a:
                    s = "1"
                elif re.fullmatch(r"\d+", a):
                    s = a if int(a) >= 1 else "1"
                else:
                    s = (
                        f"greatest(case when ({a}) < 0 then"
                        f" {size_b} + ({a}) + 1 else ({a}) end,"
                        " 1)"
                    )
                if not c:
                    e = size_b
                elif re.fullmatch(r"\d+", c):
                    e = f"least({c}, {size_b})"
                else:
                    e = (
                        f"least(case when ({c}) < 0 then"
                        f" {size_b} + ({c}) + 1 else ({c}) end,"
                        f" {size_b})"
                    )
                repl = (
                    f"slice({base}, try_cast(({s}) as int),"
                    f" try_cast(greatest(({e}) - ({s}) + 1, 0)"
                    " as int))"
                )
                # DuckDB: a NULL bound yields NULL — without
                # this guard Spark's greatest/least would SKIP
                # the NULL and silently treat it as open
                guards = [
                    f"({x}) is null"
                    for x in (a, c)
                    if x and not re.fullmatch(r"\d+", x)
                ]
                if guards:
                    repl = (
                        f"(case when {' or '.join(guards)}"
                        f" then null else {repl} end)"
                    )
        out = out[:base_start] + repl + out[close + 1:]
    raise EngineError(
        "list/struct expression rewrite did not converge"
    )


def _refuse_ambiguous_operators(stmt: str) -> None:
    """Operators that MEAN different things in the two dialects
    refuse loudly instead of silently diverging (probed):
    DuckDB's ``^`` is POWER (2^3 = 8) where Spark's is bitwise
    XOR (2^3 = 1); ``//`` is integer division for integers but
    PLAIN division for decimals (7.5//2 = 3.75); ``~``/``!~``
    are regex matches. Each has an unambiguous spelling both
    entry points agree on. Binary-position detection only —
    Spark's unary ``~`` (bitwise NOT) stays legal."""
    b = blank_literals(stmt)
    for m in re.finditer(r"\*\*|!~|//|[\^~]", b):
        tok = m.group(0)
        if tok in ("^", "~"):
            j = m.start() - 1
            while j >= 0 and b[j].isspace():
                j -= 1
            if j < 0 or not (
                b[j].isalnum() or b[j] in "_'\")]`"
            ):
                continue  # unary position: Spark bitwise NOT ok
            if b[j].isalnum() or b[j] == "_":
                wm = re.search(r"\w+$", b[: j + 1])
                if wm and wm.group(0).lower() in (
                    _BRACKET_KEYWORDS
                ):
                    continue  # `select ~5`, `where ~x`: unary
        hint = {
            "^": "power(a, b) or xor(a, b) — DuckDB's ^ is"
                 " POWER where Spark's is XOR",
            "**": "power(a, b)",
            "//": "a DIV b (integers) or floor(a / b) — DuckDB's"
                  " // divides decimals without flooring",
            "~": "regexp_matches(a, b) / a RLIKE b",
            "!~": "NOT regexp_matches(a, b)",
        }[tok]
        raise EngineError(
            f"the {tok} operator differs between dialects —"
            f" spell it {hint}"
        )


# words that can legally precede a bare `[` only when the bracket
# opens a LIST LITERAL (clause keywords, operators are handled by
# the non-word branch); `array` is ANSI's explicit literal prefix
_BRACKET_KEYWORDS = frozenset(
    """select from where and or not then else when case end in on
    using by as group order having limit offset union all distinct
    values set returning join inner left right full cross semi
    anti lateral between is like ilike glob exclude exists any
    some over partition rows range preceding following unbounded
    current row asc desc nulls first last intersect except with
    recursive array""".split()
)


def _expr_base_start(b: str, end: int) -> int:
    """Start index of the primary-expression chain ending at
    ``end`` (exclusive) in literal-blanked text — dotted
    identifier segments and call/paren groups compose:
    ``f(x).g[...]``, ``a.b``, ``(expr)``. Walks left one segment
    at a time; a segment that begins with ``.`` continues across
    a preceding paren group (a call or a parenthesized
    expression)."""
    i = end
    while i > 0:
        m = re.search(r'(?:[\w.$]+|`[^`]*`|"[^"]*")+$', b[:i])
        if m and m.end() == i:
            seg_start = m.start()
            dotted = b[seg_start] == "."
            i = seg_start
            if dotted and i > 0 and b[i - 1] == ")":
                i = match_bracket_back(b, i - 1)
                continue  # absorb the call's own name, if any
            return i
        if i == end and b[i - 1] == ")":
            i = match_bracket_back(b, i - 1)
            continue
        return i
    return i


def _top_level_colon(blanked: str) -> int | None:
    """First ``:`` at bracket/paren/brace depth 0 — skipping
    ``::`` casts and ``:=`` named-argument markers."""
    d = j = 0
    while j < len(blanked):
        c = blanked[j]
        if c in "([{":
            d += 1
        elif c in ")]}":
            d -= 1
        elif c == ":" and d == 0:
            if j + 1 < len(blanked) and blanked[j + 1] in ":=":
                j += 2
                continue
            return j
        j += 1
    return None


def _map_list_functions(stmt: str, fresh: Iterator[int]) -> str:
    """DuckDB's list_* function spellings onto Spark natives —
    probed semantics per mapping: list_extract/array_extract OOB
    → NULL (try_element_at), list_position missing → 0 on BOTH
    engines (array_position), list_sort/list_reverse_sort order
    NULLS LAST (Spark's sort_array puts them first ascending —
    the template splits nulls out; descending maps directly),
    list_unique counts DISTINCT NON-NULL, list_prepend's
    argument order is (elem, list) where Spark's is (list,
    elem), list_slice shares the bracket-slice clamps (rewritten
    into bracket form for the slice pass). Unmapped list_*
    names (list_sum/list_avg — DuckDB returns engine-typed
    totals no Spark native mirrors) surface Spark's
    unresolved-routine error naming the function.

    The datetime/regex dialect rides the same pass:
    strftime/strptime translate their C89 format literal to a
    Java pattern (date_format / to_timestamp),
    regexp_matches(a, b) → (a RLIKE b), 2-arg regexp_extract
    takes DuckDB's whole-match group 0, and regexp_replace gets
    DuckDB's FIRST-ONLY default (a regexp_instr + substr splice;
    Spark replaces all) with the 'g' option mapping to Spark's
    position form; backreference spellings differ (\\1 vs $1) and
    translate for literal replacements. ``fresh`` numbers the lambda
    variables the templates introduce (``_LAMBDA_PREFIX``)."""
    out = stmt
    spos = 0  # already-Spark forms pass through: search beyond
    pend_flt = None  # (call offset, " filter (...)", predicate)
    for _ in range(500):
        b = blank_literals(out)
        m = _TEMPLATED_RE.search(b[spos:])
        if not m:
            break
        moff = spos + m.start()
        cp = match_bracket(out, spos + m.end() - 1)
        fn = m.group(1).lower()
        inner = out[spos + m.end(): cp]
        ib = b[spos + m.end(): cp]
        args = split_top_level(inner)
        fmf = re.match(
            r"\s*filter\s*(\()\s*where\b", b[cp + 1:], re.I
        )
        if fmf and fn in (
            "string_agg", "group_concat", "list", "array_agg",
            "quantile", "quantile_disc", "product", "skewness",
            "kurtosis", "first", "last",
        ) and not (
            fn in ("first", "last")
            and not any(
                paren_depth_at(ib, mm.start()) == 0
                for mm in re.finditer(
                    r"\border\s+by\b", ib, re.I
                )
            )
        ):
            # FILTER (WHERE p) on a REWRITTEN aggregate (r14):
            # Spark supports the clause only on plain aggregate
            # calls, so detach it here and re-attach it to the
            # lowering's inner aggregate calls (exact — the
            # filter excludes rows before collection) or, in
            # window position, case-wrap the value (exact for
            # these NULL-skipping shapes; Spark has no window
            # FILTER at all). Bare first/last keep the clause
            # natively (the capture requires an in-call ORDER
            # BY for them).
            fpo = cp + 1 + fmf.start(1)
            fclose = match_bracket(b, fpo)
            if fn in ("list", "array_agg") and re.match(
                r"\s*over\b", b[fclose + 1:], re.I
            ):
                # DuckDB's windowed list() keeps genuine NULL
                # entries, so the case-wrap (the only window
                # FILTER Spark can express) is not equivalent
                raise EngineError(
                    f"{fn}(...) FILTER as a WINDOW function is"
                    " not supported — aggregate in a subquery"
                    " and join back"
                )
            wm = re.match(r"\(\s*where\b", b[fpo:], re.I)
            pred = out[fpo + wm.end(): fclose].strip()
            pend_flt = (
                moff,
                " " + out[cp + 1: fclose + 1].strip(),
                pred,
            )
            out = out[: cp + 1] + out[fclose + 1:]
            continue
        flt, fpred = "", None
        if pend_flt and pend_flt[0] == moff:
            _, flt, fpred = pend_flt
            pend_flt = None
        if fn == "regexp_extract" and len(args) == 3:
            spos = cp + 1  # Spark form already (groups agree)
            continue
        if fn in ("substr", "substring"):
            # DuckDB-1.0.0 substr rule (derived from a full
            # runtime+folded grid probe — the two paths AGREE):
            # map the start into a 1-based coordinate
            #   p = start < 0 ? length + start + 1 : start
            # (position 0 stays 0 — an invalid slot that consumes
            # one unit of length: substr('hello',0,3) = 'he'),
            # then take the window [p+min(len,0), p+max(len,0)-1]
            # clipped to [1, length] (a NEGATIVE length reads
            # backward from p: substr('hello',2,-1) = 'h').
            # Spark's native substring agrees for every start!=0
            # with a non-negative length (grid-verified incl. the
            # virtual-window underflow substr('hello',-11,7) =
            # 'h'), so those literal shapes pass through; start=0,
            # negative lengths and non-literal args lower to the
            # window formula. NULL start/length => NULL (Spark's
            # greatest/least skip NULLs, hence the explicit
            # guard). The 2-arg form agrees natively for all
            # starts and passes through. Emissions use the FROM
            # form so they never re-enter this loop.
            if len(args) != 3:
                spos = cp + 1
                continue
            s0x, stx, lnx = (x.strip() for x in args)
            stl = re.fullmatch(r"[+-]?\d+", stx)
            lnl = re.fullmatch(r"[+-]?\d+", lnx)
            if stl and lnl and int(stx) != 0 and int(lnx) >= 0:
                spos = cp + 1  # Spark native agrees
                continue
            p = (
                f"({stx})"
                if stl and int(stx) >= 0
                else (
                    f"(case when ({stx}) < 0 then"
                    f" length(({s0x})) + ({stx}) + 1"
                    f" else ({stx}) end)"
                )
            )
            lo = f"({p} + least(({lnx}), 0))"
            hi = f"({p} + greatest(({lnx}), 0) - 1)"
            repl = (
                f"(case when ({stx}) is null or ({lnx}) is null"
                f" then cast(null as string)"
                f" else substring(({s0x}) FROM greatest({lo}, 1)"
                f" FOR {hi} - greatest({lo}, 1) + 1) end)"
            )
            out = out[:moff] + repl + out[cp + 1:]
            continue
        if fn in ("left", "right"):
            # DuckDB's NEGATIVE length drops |n| chars from the
            # other end (left('hello',-2)='hel',
            # right('hello',-2)='llo'); Spark returns '' (r14
            # verdict #3), and a NULL n must stay NULL (Spark's
            # greatest/least skip NULLs, so the templates route
            # NULL into substring's FROM/FOR argument, which
            # propagates). Non-negative literals agree natively
            # and pass through; otherwise the substring(FROM/FOR)
            # emission below is exact for EVERY n (0, negative,
            # > length, NULL — grid-probed) and never re-enters.
            if len(args) != 2:
                spos = cp + 1
                continue
            s0x, nx = (x.strip() for x in args)
            nl = re.fullmatch(r"[+-]?\d+", nx)
            if nl and int(nx) >= 0:
                spos = cp + 1
                continue
            if fn == "left":
                repl = (
                    f"substring(({s0x}) FROM 1 FOR"
                    f" (case when ({nx}) < 0 then"
                    f" length(({s0x})) + ({nx}) else ({nx})"
                    f" end))"
                )
            else:
                repl = (
                    f"substring(({s0x}) FROM (case when"
                    f" ({nx}) is null then cast(null as int)"
                    f" when ({nx}) < 0 then 1 - ({nx}) else"
                    f" greatest(length(({s0x})) - ({nx}), 0)"
                    f" + 1 end))"
                )
            out = out[:moff] + repl + out[cp + 1:]
            continue
        if fn == "regexp_replace" and len(args) == 4 and (
            re.fullmatch(r"\s*\d+\s*", args[3])
        ):
            spos = cp + 1  # Spark position form already
            continue
        if fn == "extract":
            em2 = re.match(
                r"\s*(dow|isodow|epoch)\s+from\s+(.+)$", inner,
                re.I | re.S,
            )
            if not em2:  # every other field is Spark-native
                spos = cp + 1
                continue
            x = em2.group(2).strip()
            # emitted spellings must not re-enter this pass:
            # Spark's extract fields DAYOFWEEK (Sun=1..7) and
            # DAYOFWEEK_ISO (Mon=1..7) pass through untouched
            f2 = em2.group(1).lower()
            if f2 == "dow":
                repl2 = f"(extract(dayofweek from ({x})) - 1)"
            elif f2 == "isodow":
                repl2 = f"extract(dayofweek_iso from ({x}))"
            else:  # epoch: DuckDB returns fractional DOUBLE
                # seconds (probed); Spark has no epoch field
                repl2 = (
                    f"(cast(unix_micros(cast(({x}) as"
                    " timestamp)) as double) / 1000000)"
                )
            out = out[:moff] + repl2 + out[cp + 1:]
            continue
        if fn == "date_add" and not (
            len(args) == 2
            and re.match(r"\s*interval\b", args[1], re.I)
        ):
            spos = cp + 1  # Spark's (date, int) form
            continue
        if fn == "datediff" and len(args) == 2:
            spos = cp + 1  # Spark's (end, start) form
            continue
        if fn == "date_sub" and len(args) == 2:
            spos = cp + 1  # Spark's (date, int) form
            continue
        if fn in ("first", "last"):
            fob = next(
                (
                    mm for mm in re.finditer(
                        r"\border\s+by\b", ib, re.I
                    )
                    if paren_depth_at(ib, mm.start()) == 0
                ),
                None,
            )
            if fob is None:
                spos = cp + 1  # Spark's bare first/last
                continue
            if re.match(r"\s*over\b", b[cp + 1:], re.I):
                raise EngineError(
                    f"ordered {fn}(... ORDER BY ...) as a WINDOW"
                    " function is not supported (DuckDB 1.0"
                    " rejects it too) — use"
                    " first_value/last_value OVER (ORDER BY ...)"
                )
            # DuckDB's ordered first/last = the value at the
            # min/max ORDER BY key (min_by/max_by; multi-key
            # composes through a struct; any DESC flips the
            # min/max, mixed directions refuse). NULL ordering
            # keys sort LAST (DuckDB's default null order), never
            # vanish: each key rides with an is-null flag inside
            # the struct so all-NULL-key groups still return a
            # value (r12 verdict #3)
            expr2 = inner[: fob.start()].strip()
            keys2, descs2, nulls2 = [], [], []
            for kp in split_top_level(inner[fob.end():]):
                kx2, kd2, kn2 = parse_order_item(kp)
                keys2.append(kx2)
                descs2.append(kd2 == "desc")
                nulls2.append(kn2)
            if (any(descs2) and not all(descs2)) or any(
                (n or "last") == "first" for n in nulls2
            ):
                # mixed directions / explicit NULLS FIRST: no
                # flag-struct min_by exists — sort a collected
                # struct list with a per-key comparator and take
                # the first/last element (r13; formerly a named
                # refusal)
                fields2 = ", ".join(
                    f"'o{i}', ({k})"
                    for i, k in enumerate(keys2)
                ) + f", 'v', ({expr2})"
                srt2 = (
                    "transform(array_sort((collect_list("
                    f"named_struct({fields2})){flt}),"
                    f" {_ordered_struct_cmp(descs2, nulls2)}"
                    "), _cv -> _cv.v)"
                )
                out = (
                    out[:moff]
                    + "try_element_at("
                    + srt2
                    + (", 1)" if fn == "first" else ", -1)")
                    + out[cp + 1:]
                )
                continue
            desc2 = bool(descs2 and all(descs2))
            # ASC: NULLS LAST = (k IS NULL) sorts after; DESC
            # flips the min/max so the flag flips too
            flag2 = "is not null" if desc2 else "is null"
            key2 = "struct(" + ", ".join(
                f"(({k}) {flag2}), ({k})" for k in keys2
            ) + ")"
            lo = (fn == "first") != desc2
            by = "min_by" if lo else "max_by"
            out = (
                out[:moff]
                + f"{by}(({expr2}), ({key2})){flt}"
                + out[cp + 1:]
            )
            continue
        ovm = (
            re.match(r"\s*over\s*", b[cp + 1:], re.I)
            if fn in (
                "skewness", "kurtosis", "product",
                "geomean", "geometric_mean",
            )
            else None
        )
        if ovm:
            # windowed forms (r13 verdict missing #6 — formerly
            # named refusals; DuckDB executes them): the CASE
            # guards can't take OVER, so distribute the window
            # spec onto every inner aggregate instead — one
            # shared sort, O(n) state (no frame
            # materialization). product uses the exp∘Σln closed
            # form with zero/sign bookkeeping (−0.0 sign
            # preserved, DuckDB-probed) — ulp-level double
            # differences from DuckDB's sequential multiply are
            # a declared README boundary.
            j = cp + 1 + ovm.end()
            if j < len(b) and b[j] == "(":
                oend = match_bracket(b, j) + 1
            else:
                nm2 = re.match(r"[A-Za-z_]\w*", b[j:])
                if not nm2:
                    raise EngineError(
                        f"{fn}() OVER: cannot parse the window"
                        " spec"
                    )
                oend = j + nm2.end()
            w = f" over {out[j:oend]}"
            if len(args) != 1:
                raise EngineError(f"{fn} expects one argument")
            ax = f"({_map_list_functions(args[0].strip(), fresh)})"
            if fpred is not None:
                # window FILTER: Spark has none at all — the
                # case-wrap is exact for these NULL-skipping
                # aggregates (filtered rows become NULLs, which
                # every sum/count below already ignores)
                ax = f"(case when ({fpred}) then {ax} end)"
            n3 = f"(count({ax}){w})"
            if fn == "skewness":
                repl = (
                    f"(case when {n3} > 2 then"
                    f" (skewness({ax}){w})"
                    f" * sqrt({n3} * ({n3} - 1.0)) / ({n3} - 2)"
                    " else null end)"
                )
            elif fn == "kurtosis":
                repl = (
                    f"(case when {n3} > 3 then (({n3} - 1.0) /"
                    f" (({n3} - 2) * ({n3} - 3))) * (({n3} + 1)"
                    f" * (kurtosis({ax}){w}) + 6)"
                    " else null end)"
                )
            elif fn in ("geomean", "geometric_mean"):
                # exp∘Σln with the non-positive guard loud
                # (r14 ADVICE #5 — DuckDB raises "cannot take
                # logarithm of zero"); empty/all-NULL frames
                # fall to the else and stay NULL
                repl = (
                    f"(case when (min({ax}){w}) <="
                    " cast(0 as double) then"
                    " cast(raise_error('geomean: cannot take"
                    " logarithm of a non-positive value')"
                    " as double)"
                    f" else exp((avg(ln({ax})){w})) end)"
                )
            else:  # product
                zc = (
                    f"(sum(case when {ax} = 0 then 1 else 0"
                    f" end){w})"
                )
                ngc = (
                    f"(sum(case when {ax} < 0 then 1 else 0"
                    f" end){w})"
                )
                sgn = f"cast(1 - 2 * ({ngc} % 2) as double)"
                lns = f"(sum(ln(abs(nullif({ax}, 0)))){w})"
                repl = (
                    f"(case when {n3} = 0 then null"
                    f" when {zc} > 0 then"
                    f" cast(0.0 as double) * {sgn}"
                    f" else exp({lns}) * {sgn} end)"
                )
            out = out[:moff] + repl + out[oend:]
            spos = moff + len(repl)
            continue
        if fn in ("skewness", "kurtosis"):
            # DuckDB reports the BIAS-CORRECTED sample statistics
            # (G1 / excess G2); Spark the population ones (g1 /
            # g2). Exact translation: G1 = g1·sqrt(n(n-1))/(n-2),
            # G2 = ((n-1)/((n-2)(n-3)))·((n+1)·g2 + 6) —
            # verified numerically against both engines. The
            # replacement embeds the Spark call, so the scan
            # jumps past it (the argument pre-maps recursively).
            ax = f"({_map_list_functions(args[0].strip(), fresh)})"
            n2 = f"(count({ax}){flt})"
            if fn == "skewness":
                repl = (
                    f"(case when {n2} > 2 then"
                    f" (skewness({ax}){flt})"
                    f" * sqrt({n2} * ({n2} - 1.0)) / ({n2} - 2)"
                    " else null end)"
                )
            else:
                repl = (
                    f"(case when {n2} > 3 then (({n2} - 1.0) /"
                    f" (({n2} - 2) * ({n2} - 3))) * (({n2} + 1)"
                    f" * (kurtosis({ax}){flt}) + 6)"
                    " else null end)"
                )
            out = out[:moff] + repl + out[cp + 1:]
            spos = moff + len(repl)
            continue
        if fn == "product":
            if len(args) != 1:
                raise EngineError("product expects one argument")
            v2 = f"{_LAMBDA_PREFIX}{next(fresh)}"
            ax2 = f"({args[0].strip()})"
            # collect_list drops NULLs, so an empty/all-NULL
            # group would yield the 1.0 seed — DuckDB's product
            # over zero aggregated rows is NULL (r12 ADVICE #3)
            out = (
                out[:moff]
                + (
                    f"(case when (count({ax2}){flt}) = 0 then"
                    f" null else aggregate((collect_list({ax2})"
                    f"{flt}), cast(1.0 as double),"
                    f" ({v2}, {v2}x) ->"
                    f" {v2} * {v2}x) end)"
                )
                + out[cp + 1:]
            )
            continue
        if fn in (
            "strftime", "strptime", "try_strptime",
            "regexp_matches",
            "regexp_extract", "regexp_replace", "date_diff",
            "datediff", "date_sub", "datesub", "date_add",
            "dayofweek",
            "isodow", "weekday", "epoch", "xor", "sign",
            "to_base", "string_split", "str_split",
            "string_to_array", "format",
        ):
            out = (
                out[:moff]
                + _dt_regex_repl(fn, args)
                + out[cp + 1:]
            )
            continue
        v = f"{_LAMBDA_PREFIX}{next(fresh)}"
        if fn == "struct_pack":
            # struct_pack(a := 1, b := 'x') → named_struct
            fields = []
            for a in args:
                am = re.match(
                    r"^\s*(\w+)\s*:=\s*(.+)$", a, re.S
                )
                if not am:
                    raise EngineError(
                        "struct_pack expects name := value"
                        f" arguments, got {a.strip()!r}"
                    )
                fields.append(
                    f"'{am.group(1)}', {am.group(2).strip()}"
                )
            out = (
                out[:moff] + "named_struct("
                + ", ".join(fields) + ")" + out[cp + 1:]
            )
            continue
        if fn == "struct_extract":
            fm2 = re.fullmatch(
                r"\s*'(\w+)'\s*", args[1]
            ) if len(args) == 2 else None
            if not fm2:
                raise EngineError(
                    "struct_extract expects (struct, 'name')"
                )
            out = (
                out[:moff]
                + f"(({args[0].strip()})).`{fm2.group(1)}`"
                + out[cp + 1:]
            )
            continue
        if fn == "list_sort" and len(args) == 1:
            x = args[0].strip()
            repl = (
                f"concat(sort_array(filter(({x}), {v} -> {v} is"
                f" not null)), filter(({x}), {v} -> {v} is"
                " null))"
            )
        elif fn == "list_reverse_sort" and len(args) == 1:
            repl = f"sort_array(({args[0].strip()}), false)"
        elif fn in ("list_unique", "array_unique") and (
            len(args) == 1
        ):
            x = args[0].strip()
            repl = (
                f"size(array_distinct(filter(({x}), {v} ->"
                f" {v} is not null)))"
            )
        elif fn in (
            "list", "array_agg", "string_agg", "group_concat",
        ):
            # DuckDB's list/string aggregates, with the ORDER BY
            # (and DISTINCT) inside the call Spark's
            # collect_list lacks: sort structs of (keys...,
            # value) then project the value. Uniform-direction
            # default-null keys ride is-null flags (NULLS LAST,
            # r12 verdict #1; all-DESC reverses); mixed
            # directions / explicit NULLS use a per-key
            # comparator. DISTINCT dedups struct-wrapped values
            # (NULL entries survive, as DuckDB keeps them) and
            # with ORDER BY requires the key to BE the value —
            # anything else refuses by name. string_agg /
            # group_concat join the result (array_join skips
            # NULLs like DuckDB; zero aggregated values → NULL),
            # defaulting the separator to ','.
            is_str = fn in ("string_agg", "group_concat")
            dm_ = re.match(r"\s*distinct\b", ib, re.I)
            off0 = dm_.end() if dm_ else 0
            body, body_b = inner[off0:], ib[off0:]
            obm = next(
                (
                    mm for mm in re.finditer(
                        r"\border\s+by\b", body_b, re.I
                    )
                    if paren_depth_at(body_b, mm.start()) == 0
                ),
                None,
            )
            if re.match(r"\s*over\b", b[cp + 1:], re.I) and (
                dm_ or obm
            ):
                # DuckDB 1.0 rejects in-call ORDER BY under
                # OVER outright, and windowed DISTINCT element
                # order is underdetermined — refusal is parity
                raise EngineError(
                    f"{fn}(...) with DISTINCT/ORDER BY as a"
                    " WINDOW function is not supported (DuckDB"
                    " rejects in-call ORDER BY under OVER"
                    " too) — aggregate in a subquery and join"
                    " back"
                )
            ob0 = obm.start() if obm else len(body)
            if is_str:
                pieces = split_top_level(body[:ob0])
                if len(pieces) == 1:
                    expr, sep = pieces[0].strip(), "','"
                elif len(pieces) == 2:
                    expr = pieces[0].strip()
                    sep = f"({pieces[1].strip()})"
                else:
                    raise EngineError(
                        f"{fn} expects (value [, separator"
                        " [ORDER BY ...]])"
                    )
            else:
                expr = body[:ob0].strip()
                if "," in body_b[:ob0]:
                    raise EngineError(
                        f"{fn} expects one value expression"
                    )
            sovm = re.match(r"\s*over\s*", b[cp + 1:], re.I)
            if is_str and sovm and fpred is not None:
                # window FILTER case-wrap (Spark has no window
                # FILTER): exact — the join skips NULLs
                expr = f"(case when ({fpred}) then ({expr}) end)"
            if is_str and sovm:
                # windowed plain string_agg (r14): frame-ordered
                # join of the frame's non-NULL values — one
                # collect_list window (Spark preserves frame
                # order); an all-NULL/empty frame is NULL like
                # the aggregate form (DuckDB-probed)
                j = cp + 1 + sovm.end()
                if j < len(b) and b[j] == "(":
                    oend = match_bracket(b, j) + 1
                else:
                    nm2 = re.match(r"[A-Za-z_]\w*", b[j:])
                    if not nm2:
                        raise EngineError(
                            f"{fn}() OVER: cannot parse the"
                            " window spec"
                        )
                    oend = j + nm2.end()
                w = f" over {out[j:oend]}"
                repl = (
                    f"(case when (count(({expr})){w}) = 0"
                    f" then null else array_join("
                    f"(collect_list(({expr})){w}), {sep}) end)"
                )
                out = out[:moff] + repl + out[oend:]
                spos = moff + len(repl)
                continue
            if obm is None and not dm_:
                arr = f"(collect_list(({expr})){flt})"
                if not is_str:  # scan order, DuckDB's contract
                    out = (
                        out[:moff] + arr + out[cp + 1:]
                    )
                    continue
            elif obm is None:  # DISTINCT, unordered
                arr = (
                    "transform(array_distinct((collect_list("
                    f"named_struct('v', ({expr}))){flt})),"
                    f" {v} -> {v}.v)"
                )
            else:
                keys, descs, knulls = [], [], []
                spec = body[obm.end():]
                spec_b = body_b[obm.end():]
                for kp in split_top_level(spec):
                    kx, kd, kn = parse_order_item(kp)
                    keys.append(kx)
                    descs.append(kd == "desc")
                    knulls.append(kn)
                if dm_ and (
                    len(keys) != 1
                    or re.sub(r"\s+", "", keys[0]).lower()
                    != re.sub(r"\s+", "", expr).lower()
                ):
                    raise EngineError(
                        f"{fn}(DISTINCT x ORDER BY ...) is"
                        " supported only when the ORDER BY key"
                        " IS the value expression"
                    )
                dd = "array_distinct" if dm_ else ""
                if (any(descs) and not all(descs)) or any(
                    (n or "last") == "first" for n in knulls
                ):
                    # mixed directions / explicit NULLS FIRST:
                    # per-key comparator sort (r13)
                    fieldsm = ", ".join(
                        f"'o{i}', ({k})"
                        for i, k in enumerate(keys)
                    ) + f", 'v', ({expr})"
                    arr = (
                        f"transform(array_sort({dd}(("
                        f"collect_list(named_struct({fieldsm}))"
                        f"{flt})"
                        f"), {_ordered_struct_cmp(descs, knulls)}"
                        f"), {v} -> {v}.v)"
                    ) if dm_ else (
                        "transform(array_sort((collect_list("
                        f"named_struct({fieldsm})){flt}),"
                        f" {_ordered_struct_cmp(descs, knulls)}"
                        f"), {v} -> {v}.v)"
                    )
                else:
                    # NULL keys sort LAST in DuckDB's default
                    # null order: is-null flags; the DESC path
                    # reverses an ascending sort, so the flag
                    # polarity flips
                    dsc = bool(descs) and all(descs)
                    nflag = "is not null" if dsc else "is null"
                    fields = ", ".join(
                        f"'n{i}', (({k}) {nflag}), 'o{i}', ({k})"
                        for i, k in enumerate(keys)
                    ) + f", 'v', ({expr})"
                    cl = (
                        f"(collect_list(named_struct({fields}))"
                        f"{flt})"
                    )
                    if dm_:
                        cl = f"array_distinct({cl})"
                    core = (
                        f"transform(array_sort({cl}),"
                        f" {v} -> {v}.v)"
                    )
                    arr = f"reverse({core})" if dsc else core
            if is_str:
                repl = (
                    f"(case when (count(({expr})){flt}) = 0"
                    f" then null"
                    f" else array_join({arr}, {sep}) end)"
                )
            else:
                repl = arr
        elif fn in (
            "list_concat", "list_cat", "array_concat",
            "array_cat",
        ) and len(args) == 2:
            # DuckDB treats a NULL side as absent (NULL ++ x → x,
            # fuzz-arm find); Spark's concat nulls the whole
            # result — branch instead of coalescing to array()
            # (whose string element type would fight coercion).
            # A LITERAL null side short-circuits textually: the
            # CASE's concat branch cannot type an untyped NULL
            # (r12 verdict #6 — it surfaced a raw Spark error)
            a0, a1 = args[0].strip(), args[1].strip()
            if a0.lower() == "null":
                repl = f"({a1})"
            elif a1.lower() == "null":
                repl = f"({a0})"
            else:
                repl = (
                    f"(case when ({a0}) is null then ({a1})"
                    f" when ({a1}) is null then ({a0})"
                    f" else concat(({a0}), ({a1})) end)"
                )
        elif fn in ("list_sum", "list_avg"):
            # DuckDB: sum/avg of the non-NULL elements, NULL for
            # an empty/all-NULL list. The fold accumulates in
            # DOUBLE — a universal typed zero that dissolves the
            # typed-zero problem a text rewrite can't otherwise
            # solve (r12 verdict #7). Declared narrowing vs
            # DuckDB: integer lists sum to DOUBLE (same value;
            # exact only below 2^53) where DuckDB widens to
            # HUGEINT/DECIMAL — README boundary
            if len(args) != 1:
                raise EngineError(f"{fn} expects one argument")
            v2 = f"{_LAMBDA_PREFIX}{next(fresh)}"
            fl = (
                f"filter(({args[0].strip()}),"
                f" {v2}f -> {v2}f is not null)"
            )
            s2 = (
                f"aggregate({fl}, cast(0 as double),"
                f" ({v2}a, {v2}x) -> {v2}a + {v2}x)"
            )
            body = (
                f"({s2}) / size({fl})" if fn == "list_avg"
                else s2
            )
            repl = (
                f"(case when size({fl}) = 0 then null"
                f" else {body} end)"
            )
        elif fn in (
            "jaccard", "hamming", "mismatches", "even", "fdiv",
            "gcd", "greatest_common_divisor", "lcm",
            "least_common_multiple",
        ):
            repl = _niche_fn_repl(fn, args)
        elif fn == "array_to_string" and len(args) == 2:
            # DuckDB skips NULL elements — array_join's default
            repl = (
                f"array_join(({args[0].strip()}),"
                f" ({args[1].strip()}))"
            )
        elif fn in (
            "regexp_split_to_array", "string_split_regex",
            "str_split_regex",
        ) and len(args) == 2:
            # Spark's split IS regex-splitting with the same
            # trailing-empty behavior (probed: 'ab1' \\d →
            # ['ab',''])
            repl = (
                f"split(({args[0].strip()}),"
                f" ({args[1].strip()}))"
            )
        elif fn in ("list_aggregate", "list_aggr"):
            # dispatch on the literal aggregate name: the mapped
            # names re-enter this scan (list_sum/list_avg) or
            # lower directly; everything else refuses by name
            if len(args) != 2 or not re.fullmatch(
                r"\s*'(\w+)'\s*", args[1]
            ):
                raise EngineError(
                    f"{fn} expects (list, 'aggregate_name')"
                )
            an = re.fullmatch(
                r"\s*'(\w+)'\s*", args[1]
            ).group(1).lower()
            la = f"({args[0].strip()})"
            if an in ("sum", "avg"):
                repl = f"list_{an}({la})"
            elif an in ("min", "max"):
                repl = f"array_{an}({la})"
            elif an == "count":
                repl = (
                    f"size(filter({la}, {v} -> {v} is not"
                    " null))"
                )
            elif an == "string_agg":
                repl = (
                    f"array_join(transform({la},"
                    f" {v} -> cast({v} as string)), ',')"
                )
            else:
                raise EngineError(
                    f"{fn}(..., '{an}') is not supported —"
                    " sum/avg/min/max/count/string_agg are"
                )
        elif fn in ("quantile", "quantile_disc"):
            # DuckDB's DISCRETE quantile (quantile is its
            # alias): the smallest element whose cumulative
            # position reaches p — ceil(p·n) over the sorted
            # non-NULL values
            if len(args) != 2:
                raise EngineError(f"{fn} expects two arguments")
            qovm = re.match(r"\s*over\s*", b[cp + 1:], re.I)
            if qovm and fpred is not None:
                # window FILTER case-wrap: collect_list/count
                # skip the NULLs the wrap introduces — exact
                args = [
                    f"(case when ({fpred}) then"
                    f" ({args[0].strip()}) end)",
                    args[1],
                ]
            if qovm:
                # windowed scalar quantile on a BOUNDED ROWS
                # frame (r14): the sorted-collect probe
                # materializes ≤ width rows per position — the
                # same bound as the min/max EXCLUDE collect
                # path; unbounded/default/RANGE frames refuse
                # (the materialization would be O(partition)
                # per row — DuckDB segment-trees this, a text
                # rewrite cannot)
                qx = f"({args[0].strip()})"
                qp = f"({args[1].strip()})"
                j = cp + 1 + qovm.end()
                spec_ok = False
                if j < len(b) and b[j] == "(":
                    oend = match_bracket(b, j) + 1
                    fmq = FRAME_RE.search(
                        out[j + 1: oend - 1]
                    )
                    spec_ok = bool(
                        fmq
                        and fmq.group(1).lower() == "rows"
                        and "unbounded" not in fmq.group(2).lower()
                        and "unbounded" not in fmq.group(3).lower()
                    )
                if not spec_ok or blank_literals(
                    args[1]
                ).strip().startswith(("[", "array")):
                    raise EngineError(
                        f"{fn}() as a WINDOW function executes"
                        " only with a scalar probability over"
                        " an explicit BOUNDED ROWS frame (the"
                        " frame materializes per row) —"
                        " aggregate in a subquery otherwise"
                    )
                w = f" over {out[j:oend]}"
                repl = (
                    f"try_element_at(array_sort("
                    f"(collect_list({qx}){w})),"
                    f" greatest(1, cast(ceil({qp} *"
                    f" (count({qx}){w})) as int)))"
                )
                out = out[:moff] + repl + out[oend:]
                spos = moff + len(repl)
                continue
            qx = f"({args[0].strip()})"
            qp = f"({args[1].strip()})"
            pb = blank_literals(args[1]).strip()
            if pb.startswith("[") or re.match(
                r"array\s*\(", pb, re.I
            ):
                # list form (r13 verdict #4): one probe per
                # element — Spark resolves the aggregates
                # inside the transform lambda (verified), so
                # this stays a single-pass aggregation; DuckDB
                # returns the element-typed LIST
                repl = (
                    f"transform({qp}, _qp -> try_element_at("
                    f"array_sort((collect_list({qx}){flt})),"
                    f" greatest(1, cast(ceil(_qp *"
                    f" (count({qx}){flt}))"
                    " as int))))"
                )
            else:
                repl = (
                    f"try_element_at(array_sort("
                    f"(collect_list({qx}){flt})),"
                    f" greatest(1, cast(ceil({qp} *"
                    f" (count({qx}){flt}))"
                    " as int)))"
                )
        elif fn in ("unicode", "ord") and len(args) == 1:
            # Spark's ascii() returns the first CODEPOINT (not
            # ASCII-only — probed: 'é' → 233 on both), but
            # DuckDB's unicode('') is -1 where ascii('') is 0;
            # NULL passes through (length(NULL) is NULL → else)
            ux = f"({args[0].strip()})"
            repl = (
                f"(case when length({ux}) = 0 then -1"
                f" else ascii({ux}) end)"
            )
        elif fn == "list_any_value" and len(args) == 1:
            # first non-NULL element; empty/all-NULL → NULL
            repl = (
                f"try_element_at(filter(({args[0].strip()}),"
                f" {v} -> {v} is not null), 1)"
            )
        elif fn == "list_has_any" and len(args) == 2:
            # NULL elements never match (probed: [null] vs
            # [null] is false); Spark's arrays_overlap returns
            # NULL there — coalesce it away. A NULL LIST on
            # either side is NULL, not false (r14 ADVICE #1 —
            # probed: list_has_any(NULL, [1]) IS NULL), so the
            # coalesce sits behind a null-argument guard
            la = f"({args[0].strip()})"
            lb = f"({args[1].strip()})"
            if _is_null_literal(args[0]) or (
                _is_null_literal(args[1])
            ):
                # a BARE NULL literal types as VOID, which the
                # array natives reject at ANALYSIS time — the
                # runtime CASE guard can't help, so fold here
                repl = "cast(null as boolean)"
            else:
                repl = (
                    f"(case when {la} is null or {lb} is null"
                    f" then null else"
                    f" coalesce(arrays_overlap({la}, {lb}),"
                    " false) end)"
                )
        elif fn == "list_has_all" and len(args) == 2:
            # NULL needles are vacuously contained (probed:
            # [1] ⊇ [null] is true); exists + null-safe <=>
            # instead of array_contains so an all-NULL needle
            # list (Spark type VOID) still type-checks. A NULL
            # LIST argument on either side is NULL (r14 ADVICE
            # #1 — probed), guarded like list_has_any
            ha = f"({args[0].strip()})"
            nb = f"({args[1].strip()})"
            if _is_null_literal(args[0]) or (
                _is_null_literal(args[1])
            ):
                # VOID-typed literal NULL fails forall/exists
                # analysis — fold (see list_has_any)
                repl = "cast(null as boolean)"
            else:
                repl = (
                    f"(case when {ha} is null or {nb} is null"
                    f" then null else"
                    f" forall({nb}, {v} ->"
                    f" {v} is null or coalesce(exists({ha},"
                    f" {v}h -> {v}h <=> {v}), false)) end)"
                )
        elif fn in (
            "list_dot_product", "list_inner_product"
        ) and len(args) == 2:
            repl = (
                f"aggregate(zip_with(({args[0].strip()}),"
                f" ({args[1].strip()}), ({v}x, {v}y) ->"
                f" {v}x * {v}y), cast(0 as double),"
                f" ({v}a, {v}e) -> {v}a + {v}e)"
            )
        elif fn == "list_intersect" and len(args) == 2:
            # deduped; NULLs excluded (probed); DuckDB's element
            # order is hash-arbitrary — the engine keeps the
            # first list's order
            repl = (
                f"filter(array_intersect(({args[0].strip()}),"
                f" ({args[1].strip()})), {v} -> {v} is not null)"
            )
        elif fn == "list_resize" and len(args) in (2, 3):
            rx = f"({args[0].strip()})"
            rn = f"({args[1].strip()})"
            fill = (
                f"({args[2].strip()})" if len(args) == 3
                else "null"
            )
            body = (
                f"try_element_at({rx}, {v})" if len(args) == 2
                else (
                    f"case when {v} <= size({rx}) then"
                    f" try_element_at({rx}, {v})"
                    f" else {fill} end"
                )
            )
            # NULL asymmetry (r14 ADVICE #3, probed): a NULL
            # LIST is NULL, but a NULL SIZE is the EMPTY list
            if _is_null_literal(args[0]):
                # literal NULL list: VOID fails element_at
                # analysis even in the dead branch — fold
                repl = "null"
            else:
                repl = (
                    f"(case when {rx} is null then null"
                    f" when {rn} is null or {rn} <= 0"
                    f" then slice({rx}, 1, 0)"
                    f" else transform(sequence(1, {rn}),"
                    f" {v} -> {body}) end)"
                )
        elif fn == "list_where" and len(args) == 2:
            # mask-selected elements; a NULL mask entry DROPS
            # the element (DuckDB errors there — superset)
            repl = (
                f"transform(filter(zip_with("
                f"({args[0].strip()}), ({args[1].strip()}),"
                f" ({v}x, {v}b) -> named_struct('v', {v}x,"
                f" 'b', {v}b)), {v}s -> {v}s.b),"
                f" {v}s -> {v}s.v)"
            )
        elif fn == "list_select" and len(args) == 2:
            # 1-based index projection; OOB → NULL element
            repl = (
                f"transform(({args[1].strip()}), {v}i -> case"
                f" when {v}i is null or {v}i = 0 then null"
                f" else try_element_at(({args[0].strip()}),"
                f" try_cast({v}i as int)) end)"
            )
        elif fn == "range":
            # DuckDB's EXCLUSIVE-stop series (range(3) = [0 1
            # 2], range(2,2) = []); the universal lowering
            # filters the inclusive sequence's endpoint, so
            # expression bounds and interval steps compose
            if not 0 < len(args) < 4:
                raise EngineError(
                    "range expects (stop) or (start, stop"
                    " [, step])"
                )
            if len(args) == 1:
                r0, r1, rs = "0", f"({args[0].strip()})", "1"
            else:
                r0 = f"({args[0].strip()})"
                r1 = f"({args[1].strip()})"
                rs = (
                    f"({args[2].strip()})" if len(args) == 3
                    else "1"
                )
            is_ivl = bool(re.match(r"\(\s*interval\b", rs, re.I))
            prev_w2 = re.search(r"(\w+)\s*$", b[:moff])
            from_pos = bool(
                prev_w2
                and prev_w2.group(1).lower() in ("from", "join")
            )
            if from_pos and not is_ivl:
                # Spark's native range TVF: identical values
                # (exclusive stop, negative steps agree) —
                # column named `id` where DuckDB says `range`
                # (README boundary; alias r(x) for portability)
                spos = cp + 1
                continue
            if is_ivl:
                r0 = f"cast({r0} as timestamp)"
                r1 = f"cast({r1} as timestamp)"
                rz = "interval '0' second"
            else:
                rz = "0"
            empty = f"slice(sequence({r0}, {r0}), 1, 0)"
            # a NULL bound or step is NULL, not [] (r14 ADVICE
            # #4 — probed: range(NULL) IS NULL; the bound
            # comparisons below would otherwise fall through to
            # the empty-list else)
            seq = (
                f"(case when {r0} is null or {r1} is null"
                f" or ({rs}) is null then null"
                f" when ({rs}) > {rz} and {r0} < {r1}"
                f" then filter(sequence({r0}, {r1}, {rs}),"
                f" {v} -> {v} < {r1})"
                f" when ({rs}) < {rz} and {r0} > {r1}"
                f" then filter(sequence({r0}, {r1}, {rs}),"
                f" {v} -> {v} > {r1})"
                f" else {empty} end)"
            )
            if from_pos:
                repl = f"(select explode({seq}) as range)"
            else:
                repl = seq
        elif fn in (
            "arg_max", "argmax", "arg_min", "argmin"
        ) and len(args) == 2:
            # DuckDB skips rows whose ARGUMENT is NULL (probed:
            # arg_max over (…,4.0,null) picks the best non-NULL
            # row) — Spark's bare max_by would return the NULL.
            # Spark's min_by/max_by skip NULL KEYS, so gating
            # the key on the argument's nullness is exact.
            aa = f"({args[0].strip()})"
            kk = f"({args[1].strip()})"
            by2 = (
                "max_by" if fn in ("arg_max", "argmax")
                else "min_by"
            )
            repl = (
                f"{by2}({aa}, case when {aa} is null then null"
                f" else {kk} end)"
            )
        elif fn in ("geomean", "geometric_mean") and (
            len(args) == 1
        ):
            # exp∘Σln, with non-positive inputs POISONING the
            # group loudly (r14 ADVICE #5: Spark's ln returns
            # NULL there and avg would silently skip it, where
            # DuckDB raises "cannot take logarithm of zero");
            # empty/all-NULL groups: min IS NULL → else → NULL
            gx = f"({args[0].strip()})"
            repl = (
                f"(case when min({gx}) <= cast(0 as double)"
                " then cast(raise_error('geomean: cannot take"
                " logarithm of a non-positive value')"
                " as double)"
                f" else exp(avg(ln({gx}))) end)"
            )
        elif fn == "log" and len(args) == 1:
            # DuckDB's 1-arg log is BASE 10 where Spark's is the
            # natural log — a silent wrong answer either way
            # (probed: log(100) = 2 vs 4.605); the 2-arg
            # log(base, x) form agrees and passes through
            repl = f"log10(({args[0].strip()}))"
        elif fn == "log":
            spos = cp + 1
            continue
        elif fn == "trunc" and len(args) == 1:
            # DuckDB's numeric truncation toward zero; DOUBLE
            # result (DuckDB keeps DECIMAL for decimal literals
            # — README-class type seam, values agree)
            tx = f"({args[0].strip()})"
            repl = (
                f"cast(case when {tx} < 0 then ceil({tx})"
                f" else floor({tx}) end as double)"
            )
        elif fn == "trunc":
            spos = cp + 1  # Spark's 2-arg date-trunc form
            continue
        elif fn == "isinf" and len(args) == 1:
            ix = f"({args[0].strip()})"
            repl = f"(abs({ix}) = cast('Infinity' as double))"
        elif fn == "isfinite" and len(args) == 1:
            ix = f"({args[0].strip()})"
            repl = (
                f"(not (isnan({ix}) or abs({ix}) ="
                " cast('Infinity' as double)))"
            )
        elif fn in ("monthname", "dayname") and len(args) == 1:
            # full names (probed 'February'/'Monday'; Spark's
            # MMM/EEE give abbreviations); the engine also
            # accepts timestamps where DuckDB is date-only
            fmt = "MMMM" if fn == "monthname" else "EEEE"
            repl = f"date_format(({args[0].strip()}), '{fmt}')"
        elif fn == "century" and len(args) == 1:
            # ceil(year/100): 2001 → 21, 2000 → 20 (probed)
            repl = (
                f"cast(ceil(year(({args[0].strip()})) / 100.0)"
                " as bigint)"
            )
        elif fn == "decade" and len(args) == 1:
            repl = (
                f"cast(year(({args[0].strip()})) div 10"
                " as bigint)"
            )
        elif fn == "list_distinct" and len(args) == 1:
            # DuckDB drops NULLs; its element ORDER is arbitrary
            # (hash order — probed [1,2,2,null] → [2,1]), the
            # engine keeps first occurrence
            repl = (
                f"array_distinct(filter(({args[0].strip()}),"
                f" {v} -> {v} is not null))"
            )
        elif fn == "regexp_full_match" and len(args) == 2:
            # full-string regex match — the anchor composes for
            # computed patterns too
            repl = (
                f"(({args[0].strip()}) rlike concat('^(?:',"
                f" ({args[1].strip()}), ')$'))"
            )
        elif fn == "epoch_ns" and len(args) == 1:
            repl = f"(unix_micros(({args[0].strip()})) * 1000)"
        elif fn == "epoch_ms" and len(args) == 1:
            # DuckDB overloads by type (r14 ADVICE #2):
            # epoch_ms(BIGINT) builds a TIMESTAMP,
            # epoch_ms(TIMESTAMP) extracts milliseconds. A text
            # rewrite sees only literals, so integer LITERALS
            # (the common ported shape) take timestamp_millis
            # and everything else takes unix_millis — a
            # bigint-typed COLUMN surfaces Spark's type error
            # as a uniform EngineError naming unix_millis
            em = args[0].strip()
            if re.fullmatch(r"[-+]?\d+", em):
                repl = f"timestamp_millis({em})"
            else:
                repl = f"unix_millis(({em}))"
        elif fn == "generate_series":
            if not 1 < len(args) < 4:
                raise EngineError(
                    "generate_series expects (start, stop"
                    " [, step])"
                )
            g0 = f"({args[0].strip()})"
            g1 = f"({args[1].strip()})"
            if len(args) == 3:
                if re.match(r"\s*interval\b", args[2], re.I):
                    # DuckDB widens DATE bounds to TIMESTAMP
                    # for interval steps (probed: TIMESTAMP[])
                    g0 = f"cast({g0} as timestamp)"
                    g1 = f"cast({g1} as timestamp)"
                seq = (
                    f"sequence({g0}, {g1},"
                    f" ({args[2].strip()}))"
                )
            else:
                # stepless: Spark's sequence infers -1 when
                # start > stop (descending list); DuckDB
                # returns [] — guard with a same-typed empty
                seq = (
                    f"(case when {g0} > {g1} then"
                    f" slice(sequence({g0}, {g0}), 1, 0)"
                    f" else sequence({g0}, {g1}) end)"
                )
            # a FROM-list position is DuckDB's table function —
            # Spark spells it as an exploded subquery; anywhere
            # else it is the scalar list form (Spark's sequence
            # IS inclusive like DuckDB's, negative steps agree)
            prev_w = re.search(r"(\w+)\s*$", b[:moff])
            if prev_w and prev_w.group(1).lower() in (
                "from", "join",
            ):
                repl = (
                    f"(select explode({seq}) as generate_series)"
                )
            else:
                repl = seq
        elif fn == "time_bucket":
            repl = _time_bucket_repl(args)
        elif fn == "list_prepend" and len(args) == 2:
            repl = (
                f"array_prepend(({args[1].strip()}),"
                f" ({args[0].strip()}))"
            )
        elif fn in ("list_slice", "array_slice") and (
            len(args) == 3
        ):
            # DuckDB: an explicitly-NULL bound yields NULL (the
            # bracket slice's open bounds do not exist in this
            # call form, so plain NULL propagation is exact)
            s1 = f"({args[1].strip()})"
            s2 = f"({args[2].strip()})"
            repl = (
                f"(case when {s1} is null or {s2} is null"
                f" then null else ({args[0].strip()})"
                f"[{args[1].strip()}:{args[2].strip()}] end)"
            )
        else:
            raise EngineError(
                f"{fn}() with {len(args)} argument(s) is not"
                " supported"
            )
        out = out[:moff] + repl + out[cp + 1:]
    return sub_outside_literals(
        _RENAMED_RE, lambda m: _FUNCTIONS[m.group(1).lower()] + "(", out
    )


def _dt_regex_repl(fn: str, args: list[str]) -> str:
    """Replacement text for the datetime/regex dialect calls —
    semantics in _map_list_functions's docstring, each
    DuckDB-probed."""
    a = [x.strip() for x in args]
    if fn in ("strftime", "strptime", "try_strptime"):
        if len(a) != 2:
            raise EngineError(f"{fn} expects (value, format)")
        fm = re.fullmatch(r"'((?:[^']|'')*)'", a[1])
        if not fm:
            raise EngineError(
                f"{fn} needs a LITERAL format string (the"
                " directive translation happens at plan time)"
            )
        raw = fm.group(1).replace("''", "'")
        jpat = _strf_to_java(raw)
        target = "date_format" if fn == "strftime" else (
            # try_strptime: NULL on parse failure (DuckDB)
            "try_to_timestamp" if fn == "try_strptime"
            else "to_timestamp"
        )
        v0 = f"({a[0]})"
        if fn != "strftime" and not (
            {d.lstrip("-") for d in re.findall(
                r"%(-?.)", raw.replace("%%", "")
            )} & {"Y", "y"}
        ):
            # PARSE with no year directive: DuckDB defaults the
            # missing year to 1900 where Spark defaults to 1970
            # (probed: strptime('10:00','%H:%M') → 1900-01-01);
            # month/day defaults (both 1) agree. Pin DuckDB's
            # year by parsing a literal prefix alongside.
            jpat = "yyyy " + jpat
            v0 = f"concat('1900 ', {v0})"
        jfmt = _sql_str_lit(jpat)
        if fn != "strftime" and "%f" in raw.replace("%%", ""):
            # PARSE direction: DuckDB reads the %f digit run as
            # an integer MICROSECOND count ('.123' = 123 us,
            # '.1' = 1 us — probed); Java's SSSSSS reads a
            # fraction-of-second ('.123' = 123000 us). Left-pad
            # the captured digits to 6 so the fraction parse
            # lands DuckDB's count (r14 verdict #2). Only the
            # trailing-%f-after-a-non-digit-separator shape is
            # expressible this way; others refuse by name. The
            # emitted regexp_extract (3-arg) and regexp_replace
            # (4-arg literal position) forms pass this rewrite
            # loop through untouched.
            if (
                not raw.endswith("%f")
                or raw.endswith("%%f")
                or re.search(r"(%-?[A-Za-z]|\d)%f$", raw)
            ):
                raise EngineError(
                    f"{fn} %f is only supported as the final"
                    " directive after a non-digit separator"
                    " (e.g. '%H:%M:%S.%f')"
                )
            dig = f"regexp_extract({v0}, '([0-9]{{1,6}})$', 1)"
            v0 = (
                f"(case when {dig} = '' then {v0} else"
                f" concat(regexp_replace({v0},"
                f" '[0-9]{{1,6}}$', '', 1),"
                f" lpad({dig}, 6, '0')) end)"
            )
        return f"{target}({v0}, {jfmt})"
    if fn == "regexp_matches":
        if len(a) != 2:
            raise EngineError(
                "regexp_matches with options is not supported"
            )
        return f"(({a[0]}) rlike ({a[1]}))"
    if fn == "datesub":  # DuckDB's no-underscore alias
        fn = "date_sub"
    if fn in ("date_diff", "datediff", "date_sub"):
        # DuckDB 3-arg: ('part', start, end). date_diff counts
        # PART BOUNDARIES crossed (probed: month Jan-31→Feb-1 is
        # 1); date_sub counts COMPLETE units (same pair is 0)
        if len(a) != 3:
            raise EngineError(f"{fn} expects ('part', start, end)")
        pm = re.fullmatch(r"'(\w+)'", a[0])
        if not pm:
            raise EngineError(f"{fn} needs a literal part name")
        part = pm.group(1).lower().rstrip("s")
        x, y = f"({a[1]})", f"({a[2]})"
        sec = {"hour": 3600, "minute": 60, "second": 1}
        if fn == "date_sub":  # complete units
            if part == "day":
                return f"datediff(cast({y} as date), cast({x} as date))"
            if part in ("year", "month", "quarter"):
                d = {"year": 12, "month": 1, "quarter": 3}[part]
                return (
                    f"cast(floor(months_between({y}, {x})"
                    f" / {d}) as bigint)"
                )
            if part in sec:
                return (
                    f"cast(floor((unix_timestamp({y}) -"
                    f" unix_timestamp({x})) / {sec[part]})"
                    " as bigint)"
                )
            raise EngineError(
                f"{fn} part {part!r} is not supported"
            )
        # boundary-crossing diff
        if part == "year":
            return f"(year({y}) - year({x}))"
        if part == "quarter":
            return (
                f"((year({y}) - year({x})) * 4 + quarter({y})"
                f" - quarter({x}))"
            )
        if part == "month":
            return (
                f"((year({y}) - year({x})) * 12 + month({y})"
                f" - month({x}))"
            )
        if part == "day":
            return f"datediff(cast({y} as date), cast({x} as date))"
        if part in sec:
            n = sec[part]
            return (
                f"(cast(floor(unix_timestamp({y}) / {n}) as"
                f" bigint) - cast(floor(unix_timestamp({x}) /"
                f" {n}) as bigint))"
            )
        raise EngineError(f"{fn} part {part!r} is not supported")
    if fn == "date_add":
        # interval form (the int form passed through upstream);
        # DuckDB returns TIMESTAMP even for date + day intervals
        return f"cast(({a[0]}) + ({a[1]}) as timestamp)"
    if fn in ("dayofweek", "weekday"):
        # DuckDB: Sunday=0..Saturday=6 (weekday is its alias)
        return f"(extract(dayofweek from ({a[0]})) - 1)"
    if fn == "isodow":  # Monday=1..Sunday=7, both engines' ISO
        return f"extract(dayofweek_iso from ({a[0]}))"
    if fn == "epoch":  # seconds as DOUBLE incl. the fraction
        return (
            f"(cast(unix_micros(cast(({a[0]}) as timestamp)) as"
            " double) / 1000000)"
        )
    if fn == "xor":
        return f"(({a[0]}) ^ ({a[1]}))"
    if fn == "sign":  # DuckDB returns int, Spark double
        return f"cast(signum(({a[0]})) as int)"
    if fn == "to_base":
        return f"conv(({a[0]}), 10, ({a[1]}))"
    if fn in ("string_split", "str_split", "string_to_array"):
        if len(a) != 2:
            raise EngineError(f"{fn} expects (string, separator)")
        # DuckDB separators are LITERAL text; Spark split takes a
        # regex — \\Q..\\E quotes any separator expression
        return (
            f"split(({a[0]}), concat('\\\\Q', ({a[1]}),"
            " '\\\\E'), -1)"
        )
    if fn == "format":
        fm2 = re.fullmatch(r"'((?:[^']|'')*)'", a[0])
        if not fm2 or re.search(r"\{[^}]", fm2.group(1)):
            raise EngineError(
                "format supports a literal template with plain"
                " {} placeholders — use printf for typed specs"
            )
        tmpl = fm2.group(1).replace("%", "%%").replace("{}", "%s")
        rest = ", ".join(f"({x})" for x in a[1:])
        return (
            f"format_string({_sql_str_lit(tmpl)}"
            + (f", {rest})" if rest else ")")
        )
    if fn == "regexp_extract":
        if len(a) != 2:
            raise EngineError(
                f"regexp_extract expects 2 or 3 arguments"
            )
        # DuckDB's 2-arg default is the WHOLE match (group 0);
        # Spark's is group 1
        return f"regexp_extract(({a[0]}), ({a[1]}), 0)"
    # regexp_replace
    if len(a) not in (3, 4):
        raise EngineError("regexp_replace expects 3-4 arguments")

    def _rep_lit(x: str) -> str | None:
        rm = re.fullmatch(r"'((?:[^']|'')*)'", x)
        return rm.group(1).replace("''", "'") if rm else None

    rep = _rep_lit(a[2])
    if len(a) == 4:
        om = re.fullmatch(r"'(\w*)'", a[3])
        if not om or om.group(1) != "g":
            raise EngineError(
                "regexp_replace options other than 'g' are not"
                " supported"
            )
        # 'g' = replace ALL = Spark's semantics; emit the
        # position form so the pass doesn't re-enter. Backrefs
        # spell \\1 in DuckDB and $1 in Spark — translate for
        # literal replacements, refuse ambiguity otherwise
        if rep is not None:
            rep2 = re.sub(r"\$", r"\\$", rep)
            rep2 = re.sub(r"\\(\d)", r"$\1", rep2)
            return (
                f"regexp_replace(({a[0]}), ({a[1]}),"
                f" {_sql_str_lit(rep2)}, 1)"
            )
        return (
            f"regexp_replace(({a[0]}), ({a[1]}), ({a[2]}), 1)"
        )
    # 3-arg: DuckDB replaces the FIRST match only — splice via
    # regexp_instr + the matched text's length (no regex engine
    # touches the replacement, so backrefs cannot apply: refuse)
    if rep is not None and re.search(r"\\\d", rep):
        raise EngineError(
            "regexp_replace backreferences need the 'g' option"
            " (the first-only splice inserts the replacement"
            " verbatim)"
        )
    s0, pat, rp = a[0], a[1], a[2]
    pos = f"regexp_instr(({s0}), ({pat}))"
    return (
        f"(case when ({s0}) is null or ({pat}) is null then"
        f" cast(null as string) when {pos} = 0 then ({s0})"
        f" else concat(substr(({s0}), 1, {pos} - 1), ({rp}),"
        f" substr(({s0}), {pos} +"
        f" length(regexp_extract(({s0}), ({pat}), 0)))) end)"
    )


# strftime directive → Java DateTimeFormatter pattern (the
# DuckDB/C89 subset; unknown directives refuse by name)
_STRF_MAP = {
    "Y": "yyyy", "y": "yy", "m": "MM", "-m": "M", "d": "dd",
    "-d": "d", "H": "HH", "-H": "H", "I": "hh", "-I": "h",
    "M": "mm", "-M": "m", "S": "ss", "-S": "s", "f": "SSSSSS",
    "p": "a", "j": "DDD", "a": "E", "A": "EEEE", "b": "MMM",
    "B": "MMMM", "%": "%",
}


def _strf_to_java(fmt: str) -> str:
    """C89/DuckDB strftime format → Java DateTimeFormatter
    pattern: directives map per ``_STRF_MAP``, literal LETTER
    runs quote (Java reserves every letter as a pattern char),
    quotes escape."""
    out: list[str] = []
    i = 0
    while i < len(fmt):
        c = fmt[i]
        if c == "%":
            key = fmt[i + 1: i + 3] if fmt[i + 1: i + 2] == "-" \
                else fmt[i + 1: i + 2]
            spark = _STRF_MAP.get(key)
            if spark is None:
                raise EngineError(
                    f"strftime directive %{key} is not supported"
                )
            out.append(spark)
            i += 1 + len(key)
        elif c.isalpha():
            j = i
            while j < len(fmt) and fmt[j].isalpha():
                j += 1
            out.append("'" + fmt[i:j] + "'")
            i = j
        elif c == "'":
            out.append("''")
            i += 1
        else:
            out.append(c)
            i += 1
    return "".join(out)


def _sql_str_lit(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def _is_null_literal(expr: str) -> bool:
    """A bare (possibly parenthesized) NULL literal. Such an
    argument types as VOID in Spark, which the lambda HOFs and
    several array natives reject at ANALYSIS time — runtime CASE
    guards never see it, so lowerings fold these at plan time."""
    return bool(
        re.fullmatch(r"\s*\(*\s*null\s*\)*\s*", expr, re.I)
    )


FRAME_RE = re.compile(
    r"\b(rows|range)\s+between\s+(.+?)\s+and\s+(.+?)\s*$",
    re.I | re.S,
)


def _ordered_struct_cmp(
    descs: list[bool], nulls: list[str]
) -> str:
    """An array_sort comparator lambda over ``named_struct('o0',
    k0, ...)`` elements for a per-key direction/null-order spec —
    the lowering for MIXED-direction (or explicit NULLS
    FIRST/LAST) ordered aggregates, which a flag-struct sort
    cannot express. Unqualified keys take DuckDB's default null
    order (NULLS LAST in both directions)."""
    if len(descs) > 8:
        raise EngineError(
            "ordered aggregate with more than 8 ORDER BY keys is"
            " not supported"
        )
    body = "0"
    for i in reversed(range(len(descs))):
        lt, gt = (1, -1) if descs[i] else (-1, 1)
        nl = 1 if (nulls[i] or "last") == "last" else -1
        body = (
            f"case when _cl.o{i} is null and _cr.o{i} is null"
            f" then {body}"
            f" when _cl.o{i} is null then {nl}"
            f" when _cr.o{i} is null then {-nl}"
            f" when _cl.o{i} < _cr.o{i} then {lt}"
            f" when _cl.o{i} > _cr.o{i} then {gt}"
            f" else {body} end"
        )
    return f"(_cl, _cr) -> {body}"


def _time_bucket_repl(args: list[str]) -> str:
    """DuckDB/TimescaleDB ``time_bucket(interval, ts [, origin |
    offset])`` — fixed-width time bucketing (the hypertable
    rollup primitive). Sub-month widths floor epoch seconds with
    DuckDB's probed origin — Monday 2000-01-03 00:00 UTC for ALL
    seconds..weeks widths (probed: '2 days' / '2 weeks' / '7
    seconds' are 2000-01-03-aligned, not epoch-aligned);
    month/year widths count calendar months from 2000-01-01. The
    3-arg form (all DuckDB-probed): an INTERVAL third argument
    shifts via subtract-then-add (``bucket(ts - off) + off`` —
    a 25-minute offset on a 10-minute grid lands on :55); a
    timestamp/date origin replaces the grid origin — used in
    full for sub-month widths, truncated to its month for
    month/year widths (origin 2024-01-15 13:45 buckets '1 month'
    to 2024-03-01, not the 15th). Result is TIMESTAMP (DuckDB
    narrows to DATE for date inputs — declared boundary)."""
    if not 1 < len(args) < 4:
        raise EngineError(
            "time_bucket expects (INTERVAL literal, ts"
            " [, origin or offset])"
        )
    im = re.fullmatch(
        r"\s*interval\s+(?:'(\d+)\s*(\w+)'|(\d+)\s+(\w+)"
        r"|'(\d+)'\s+(\w+))\s*",
        args[0].strip(), re.I,
    )
    if not im:
        raise EngineError(
            "time_bucket needs a literal INTERVAL first"
            " argument (e.g. INTERVAL '15 minutes')"
        )
    n = int(im.group(1) or im.group(3) or im.group(5))
    unit = (
        im.group(2) or im.group(4) or im.group(6)
    ).lower().rstrip("s")
    ts = f"cast(({args[1].strip()}) as timestamp)"
    off = org = None
    if len(args) == 3:
        third = args[2].strip()
        if re.match(r"interval\b", third, re.I):
            off = f"({third})"
        elif re.fullmatch(r"[-+]?[\d.]+", third):
            # a bare number is a DuckDB binder error too — no
            # numeric-origin overload exists
            raise EngineError(
                "time_bucket's third argument must be an"
                " INTERVAL offset or a timestamp/date origin"
            )
        else:
            org = f"cast(({third}) as timestamp)"
    if off is not None:
        # subtract-then-add: bucket(ts - off) + off
        ts = f"({ts} - {off})"
    secs = {
        "second": 1, "minute": 60, "hour": 3600,
        "day": 86400, "week": 604800,
    }
    if unit in secs:
        w = n * secs[unit]
        # DuckDB aligns EVERY seconds..weeks width to Monday
        # 2000-01-03 00:00 UTC (probed: '2 days' on 2024-01-05
        # 10:00 → 2024-01-05, '2 weeks' → 2024-01-01, '7
        # seconds' → …:58 — all 2000-01-03-aligned, NOT
        # epoch-aligned; widths dividing 946857600 coincide,
        # which is why 15-minute/1-day/1-week probes can't
        # tell the origins apart)
        o = f"unix_seconds({org})" if org else "946857600"
        bucket = (
            f"timestamp_seconds(cast(floor((unix_seconds({ts})"
            f" - {o}) / {w}) as bigint) * {w} + {o})"
        )
    elif unit in ("month", "year"):
        mm = n * (12 if unit == "year" else 1)
        origin = (
            f"date_trunc('month', {org})" if org
            else "timestamp '2000-01-01 00:00:00'"
        )
        # month-truncate BOTH sides so months_between is exact
        bucket = (  # add_months narrows to DATE — widen back
            f"cast(add_months({origin}, cast(floor("
            f"months_between(date_trunc('month', {ts}),"
            f" {origin}) / {mm}) as int) * {mm}) as timestamp)"
        )
    else:
        raise EngineError(
            f"time_bucket unit {unit!r} is not supported"
            " (seconds..weeks, months, years are)"
        )
    return f"({bucket} + {off})" if off is not None else bucket


def _niche_fn_repl(fn: str, args: list[str]) -> str:
    """DuckDB's niche scalar functions lowered onto Spark
    natives/HOFs (each DuckDB-probed; r12 verdict: these
    surfaced raw unresolved-routine errors):

    - jaccard(s1, s2): CHARACTER-SET Jaccard, case-sensitive
      ('abc' vs 'cx' → 0.25); empty arguments error
    - hamming / mismatches(s1, s2): differing positions; unequal
      lengths error (raise_error mirrors DuckDB's)
    - even(x): next even DOUBLE away from zero (even(-0.5) → -2)
    - fdiv(x, y): floor division as DOUBLE, NULL on y = 0
    - gcd / lcm: BIGINT, absolute values, gcd(0, n) = |n| and
      lcm(0, n) = 0 — a bounded 96-step Euclid fold (the int64
      worst case, consecutive Fibonacci numbers, needs ≤ 92)
      via aggregate(), so the whole thing stays JVM-side
    """
    two = fn not in ("even",)
    if len(args) != (2 if two else 1):
        raise EngineError(
            f"{fn} expects {2 if two else 1} argument(s)"
        )
    x = f"({args[0].strip()})"
    y = f"({args[1].strip()})" if two else ""
    if fn == "jaccard":
        ds = [f"array_distinct(split({a}, ''))" for a in (x, y)]
        guard = (
            f"case when length({x}) < 1 or length({y}) < 1 then"
            " raise_error('jaccard: an argument is too short')"
        )
        return (
            f"({guard} else cast(size(array_intersect({ds[0]},"
            f" {ds[1]})) as double) / size(array_union({ds[0]},"
            f" {ds[1]})) end)"
        )
    if fn in ("hamming", "mismatches"):
        return (
            f"(case when length({x}) <> length({y}) then"
            f" cast(raise_error('{fn}: strings must be of equal"
            " length') as bigint) else cast(size(filter("
            f"zip_with(split({x}, ''), split({y}, ''),"
            " (_ha, _hb) -> _ha <> _hb), _hz -> _hz)) as bigint)"
            " end)"
        )
    if fn == "even":
        return (
            f"(case when {x} = 0 then cast(0 as double)"
            f" else sign({x}) * 2 * ceil(abs(cast({x} as"
            " double)) / 2) end)"
        )
    if fn == "fdiv":
        return (
            f"(case when {y} = 0 then null else"
            f" cast(floor(cast({x} as double) / {y}) as double)"
            " end)"
        )
    gcd = (
        "aggregate(sequence(1, 96), named_struct("
        f"'a', abs(cast({x} as bigint)),"
        f" 'b', abs(cast({y} as bigint))),"
        " (_ga, _gi) -> case when _ga.b = 0 then _ga else"
        " named_struct('a', _ga.b, 'b', _ga.a % _ga.b) end).a"
    )
    if fn in ("gcd", "greatest_common_divisor"):
        return f"({gcd})"
    return (  # lcm
        f"(case when {x} = 0 or {y} = 0 then cast(0 as bigint)"
        f" else abs(cast({x} as bigint) div ({gcd})"
        f" * cast({y} as bigint)) end)"
    )


_ORDER_TAIL_STOP = re.compile(
    r"(?:limit|offset|fetch|union|intersect|except|rows|range"
    r"|groups|window|using|into|having|qualify)\b", re.I
)


def _clause_end(b: str, start: int, stop: re.Pattern) -> int:
    """End of the clause body that begins at ``start`` in
    literal-blanked text: the first closer that is not its own, or
    at bracket depth 0 a ``;`` or a ``stop`` keyword starting a
    word."""
    i, depth = start, 0
    while i < len(b):
        c = b[i]
        if c in "([{":
            depth += 1
        elif c in ")]}":
            if depth == 0:
                return i
            depth -= 1
        elif c == ";" and depth == 0:
            return i
        elif depth == 0 and (c.isalpha() or c == "_"):
            at_word_start = not (b[i - 1].isalnum() or b[i - 1] in "_`")
            if at_word_start and stop.match(b, i):
                return i
            while i < len(b) and (b[i].isalnum() or b[i] == "_"):
                i += 1
            continue
        i += 1
    return len(b)


def _inject_order_nulls_last(stmt: str) -> str:
    """DuckDB/Postgres place NULL ordering keys LAST on ASC (the
    default null order) where Spark places them FIRST — a silent
    cross-cutting seam (r12 verdict #1): it changes
    row_number/first_value/lag/cumulative values over
    NULL-bearing keys, the QUALIFY / DISTINCT ON survivor row,
    ordered-aggregate element order, and the CONTENT of
    ``ORDER BY k LIMIT n``. Every ASC ORDER BY item without an
    explicit NULLS qualifier gets NULLS LAST appended (DESC
    already defaults to NULLS LAST on both engines; explicit
    NULLS FIRST/LAST is respected) — one text pass, so OVER
    specs, named WINDOW defs, WITHIN GROUP, subquery and
    statement-final ORDER BY all normalize together. Spark
    accepts the qualifier in every such context (probed:
    ordinal keys, ORDER BY ALL, RANGE/ROWS frames, WITHIN
    GROUP). Idempotent: qualified items pass through."""
    if not re.search(r"\border\s+by\b", stmt, re.I):
        return stmt
    out = stmt
    # Fixpoint passes, right-to-left within each: a splice
    # inside an ENCLOSING ORDER BY segment (a scalar subquery's
    # ORDER BY sitting inside an outer ORDER BY item) shifts the
    # outer segment's offsets, so offsets from a pre-splice
    # blanked twin would corrupt the text (r13 ADVICE #3) —
    # after every change, restart with a fresh twin. Injection
    # is idempotent per item (qualified items re-emit the same
    # canonical text), so each ORDER BY changes at most once and
    # the loop terminates.
    for _ in range(500):
        b = blank_literals(out)
        changed = False
        for m in reversed(
            list(re.finditer(r"\border\s+by\b", b, re.I))
        ):
            start = m.end()
            end = _clause_end(b, start, _ORDER_TAIL_STOP)
            seg, seg_b = out[start:end], b[start:end]
            if not seg.strip():
                continue
            items = split_top_level(seg)
            items_b = split_top_level(seg_b)
            new = []
            for it, itb in zip(items, items_b):
                tail = itb.rstrip()
                if (
                    not tail.strip()
                    or re.search(
                        r"\bnulls\s+(?:first|last)$", tail, re.I
                    )
                    or re.search(r"\bdesc$", tail, re.I)
                ):
                    new.append(it.strip())
                else:
                    new.append(it.strip() + " nulls last")
            mid = " " + ", ".join(new) + " "
            if mid != out[start:end]:
                out = out[:start] + mid + out[end:]
                changed = True
                break
        if not changed:
            return out
    raise EngineError(
        "ORDER BY null-placement normalization did not converge"
    )


def _normalize_string_cast_spellings(out: str) -> str:
    """DuckDB's other string-type spellings → ``varchar`` so the
    bare-varchar pass can finish the job (r13 verdict #2 —
    ``cast(x as text)`` / ``x::text`` / ``char varying`` raised
    raw Spark UNSUPPORTED_DATATYPE): ``char varying`` /
    ``character varying`` (never a valid identifier sequence)
    and ``::text`` rewrite by token; a bare ``text`` rewrites
    ONLY as a cast's top-level tail type (``text`` is a common
    COLUMN name — the documents table has one — so positional
    scanning inside the cast's parens is required, and a
    subquery's ``... as text)`` alias must not match). A cast's
    ``varchar(n)`` length is dropped here too: DuckDB ignores
    cast lengths (probed) where Spark would truncate."""
    b = blank_literals(out)
    res, last = [], 0
    for mm in re.finditer(
        r"\bchar(?:acter)?\s+varying\b|::\s*text\b", b, re.I
    ):
        res.append(out[last: mm.start()])
        res.append(
            "::varchar" if mm.group(0).startswith(":")
            else "varchar"
        )
        last = mm.end()
    if res:
        res.append(out[last:])
        out = "".join(res)
    # cast tails: the LAST top-level `as <type>` inside each
    # cast's parens; restart after each splice (nested casts)
    for _ in range(500):
        b = blank_literals(out)
        changed = False
        for cm in re.finditer(r"\b(?:try_)?cast\s*\(", b, re.I):
            op = cm.end() - 1
            try:
                close = match_bracket(b, op)
            except EngineError:
                continue
            ib = b[op + 1: close]
            tm = None
            for tm_ in re.finditer(
                r"\bas\s+(text\b|varchar\s*\(\s*\d+\s*\))\s*$",
                ib, re.I,
            ):
                tm = tm_
            if tm is None or paren_depth_at(ib, tm.start()) > 0:
                continue
            tstart = op + 1 + tm.start(1)
            tend = op + 1 + tm.end(1)
            out = out[:tstart] + "varchar" + out[tend:]
            changed = True
            break
        if not changed:
            return out
    raise EngineError(
        "string-cast spelling normalization did not converge"
    )


_SELECT_LIST_STOP = re.compile(
    r"(?:from|where|group|having|qualify|window|order|limit"
    r"|offset|fetch|union|intersect|except|into)\b", re.I
)


def _alias_unaliased_string_casts(out: str) -> str:
    """A select-list item that is EXACTLY an unaliased string
    cast gets DuckDB's output column name appended as an
    explicit alias (r13 verdict #1 — the round's one silent
    seam): Spark auto-names ``cast(v as string)`` as ``v``, so a
    trailing ``ORDER BY v`` binds to the STRING output and
    returns differently-ordered rows than DuckDB, which names
    the column ``CAST(v AS VARCHAR)`` and keeps ``v`` bound to
    the base column. The alias fixes both the schema and the
    capture. Identifier operands reproduce DuckDB's name
    exactly; other operands are best-effort ``CAST((<text>) AS
    VARCHAR)`` (DuckDB re-renders expression whitespace — README
    boundary) but still break the capture."""
    b = blank_literals(out)
    edits: list[tuple[int, str]] = []  # (insert_at, alias)
    for sm in re.finditer(r"\bselect\b", b, re.I):
        j = sm.end()
        dm = re.match(r"\s+distinct\s+on\s*\(", b[j:], re.I)
        if dm:
            j = match_bracket(b, j + dm.end() - 1) + 1
        else:
            dm = re.match(r"\s+(?:distinct|all)\b", b[j:], re.I)
            if dm:
                j += dm.end()
        start = j
        end = _clause_end(b, start, _SELECT_LIST_STOP)
        seg, seg_b = out[start:end], b[start:end]
        if not seg.strip():
            continue
        item_off = start
        for it, itb in zip(
            split_top_level(seg),
            split_top_level(seg_b),
        ):
            item_end = item_off + len(it)
            alias = _string_cast_item_alias(
                it.strip(), itb.strip()
            )
            if alias is not None:
                pos = item_off + len(it.rstrip())
                edits.append((pos, alias))
            item_off = item_end + 1  # past the comma
    for pos, alias in sorted(edits, reverse=True):
        out = out[:pos] + f" as `{alias}`" + out[pos:]
    return out


def _string_cast_item_alias(it: str, itb: str) -> str | None:
    """DuckDB's column name for a select item that is exactly an
    unaliased string cast — ``CAST(<operand> AS VARCHAR)`` /
    ``TRY_CAST(...)`` (``x::varchar`` names identically,
    probed) — or None when the item is anything else. Runs after
    the type substitution, so the cast tail to detect is
    ``string`` (every DuckDB string spelling normalizes there;
    Spark-dialect ``cast(x as string)`` gets DuckDB's name too,
    consistent with the engine's DuckDB-first surface)."""
    if "`" in it:
        return None
    cm = re.match(r"(try_)?cast\s*\(", itb, re.I)
    if cm:
        if match_bracket(itb, cm.end() - 1) != (
            len(itb) - 1
        ):
            return None
        ib = itb[cm.end(): -1]
        tm = None
        for tm_ in re.finditer(
            r"\bas\s+string\s*$", ib, re.I
        ):
            tm = tm_
        if tm is None or paren_depth_at(ib, tm.start()) > 0:
            return None
        oper = it[cm.end(): cm.end() + tm.start()].strip()
        kind = "TRY_CAST" if cm.group(1) else "CAST"
    else:
        tm = re.search(r"::\s*string\s*$", itb, re.I)
        if tm is None or paren_depth_at(itb, tm.start()) > 0:
            return None
        oper = it[: tm.start()].strip()
        kind = "CAST"
    # DuckDB strips redundant outer parens in the rendered name
    # ((v)::varchar names CAST(v AS VARCHAR))
    while (
        oper.startswith("(")
        and oper.endswith(")")
        and match_bracket(oper, 0) == len(oper) - 1
    ):
        oper = oper[1:-1].strip()
    if not re.fullmatch(
        r"[A-Za-z_]\w*(?:\.[A-Za-z_]\w*)*", oper
    ):
        oper = f"({oper})"
    return f"{kind}({oper} AS VARCHAR)"


def _rewrite_similar_to(out: str) -> str:
    """``x [NOT] SIMILAR TO '<pattern>'`` (DuckDB-probed: a
    FULL-STRING regex match — '%'/'_' are NOT wildcards there,
    unlike the SQL standard) → Spark's anchored [NOT] RLIKE.
    Literal patterns only: a computed pattern refuses by name
    (the anchor wrap would need expression-boundary parsing)."""
    for _ in range(100):
        b = blank_literals(out)
        m = re.search(
            r"\b(not\s+)?similar\s+to\s+(')", b, re.I
        )
        if not m:
            if re.search(r"\bsimilar\s+to\b", b, re.I):
                raise EngineError(
                    "SIMILAR TO with a non-literal pattern is"
                    " not supported — spell it"
                    " rlike concat('^(?:', p, ')$')"
                )
            return out
        lit_start = m.start(2)
        # blanked literals keep only the outer quotes, so the
        # next quote IS the closing one ('' escapes are blanked)
        lit_end = b.index("'", lit_start + 1)
        pat = out[lit_start + 1: lit_end]
        neg = "not " if m.group(1) else ""
        out = (
            out[: m.start()]
            + f"{neg}rlike '^(?:{pat})$'"
            + out[lit_end + 1:]
        )
    raise EngineError("SIMILAR TO rewrite did not converge")
