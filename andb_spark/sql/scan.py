"""Literal-aware scans over SQL text — the primitives the engine
(``andb_spark.api``), the DuckDB dialect (``andb_spark.sql.dialect``)
and the plan-reuse advisor share. Pure text in, positions or text out:
nothing here needs a Spark session."""

from __future__ import annotations

import re


class EngineError(Exception):
    """Analog of the reference's AnDBError hierarchy."""


def blank_literals(s: str) -> str:
    """Same-length blanking of single-quoted string literals
    (''-escape-aware): keyword/offset scans run on the blank while
    splices index into the original — one shared copy of the idiom
    every rewrite uses (r9 review #7: three hand-rolled twins had to
    be kept in sync)."""
    return re.sub(
        r"'(?:[^']|'')*'",
        lambda m: "'" + " " * (len(m.group(0)) - 2) + "'",
        s,
    )


_CLOSER = {"(": ")", "[": "]", "{": "}"}
_OPENER = {c: o for o, c in _CLOSER.items()}


def _unbalanced(oc: str) -> EngineError:
    if oc == "(":
        return EngineError("unbalanced parentheses")
    return EngineError(f"unbalanced {oc}...{_CLOSER[oc]} in expression")


def match_bracket(text: str, openpos: int) -> int:
    """Index of the bracket closing ``text[openpos]`` (``(``, ``[`` or
    ``{``), skipping string literals (''-escape-aware: a doubled quote
    inside a literal is an escaped quote, not a close+open — brackets
    between the doubled quotes stay dead). Literal-blanked text scans
    the same, so callers may pass either twin."""
    oc = text[openpos]
    cc = _CLOSER[oc]
    depth, i, n = 0, openpos, len(text)
    while i < n:
        c = text[i]
        if c == "'":
            i += 1
            while i < n:
                if text[i] == "'":
                    if i + 1 < n and text[i + 1] == "'":
                        i += 2
                        continue
                    break
                i += 1
        elif c == oc:
            depth += 1
        elif c == cc:
            depth -= 1
            if depth == 0:
                return i
        i += 1
    raise _unbalanced(oc)


def match_bracket_back(blanked: str, closepos: int) -> int:
    """Index of the bracket opening ``blanked[closepos]`` — callers
    pass literal-blanked text, so brackets inside strings are gone by
    construction."""
    cc = blanked[closepos]
    oc = _OPENER[cc]
    depth = 0
    for i in range(closepos, -1, -1):
        if blanked[i] == cc:
            depth += 1
        elif blanked[i] == oc:
            depth -= 1
            if depth == 0:
                return i
    raise _unbalanced(oc)


def split_top_level(text: str, sep: str = ",") -> list[str]:
    """Split on ``sep`` outside brackets and quotes: ``(``, ``[`` and
    ``{`` nest (calls, list and struct literals carry their own
    commas), and single- or double-quoted spans are opaque. Pieces
    come back verbatim — unstripped, empty ones kept — so a caller can
    count arguments or splice by offset."""
    parts: list[str] = []
    start, depth, quote = 0, 0, None
    for i, c in enumerate(text):
        if quote:
            if c == quote:
                quote = None
        elif c in "'\"":
            quote = c
        elif c in "([{":
            depth += 1
        elif c in ")]}":
            depth -= 1
        elif c == sep and depth == 0:
            parts.append(text[start:i])
            start = i + 1
    parts.append(text[start:])
    return parts


def split_items(text: str) -> list[str]:
    """The stripped, non-empty pieces of ``split_top_level(text)`` —
    how column-def, VALUES, SET and filter lists read."""
    return [p for p in (x.strip() for x in split_top_level(text)) if p]


def find_top_level_keyword(text: str, keywords: tuple[str, ...],
                           start: int = 0) -> tuple[int, str] | None:
    """Position of the first occurrence of any keyword at paren
    depth 0, outside single-quoted string literals, and on WORD
    boundaries (neither neighbor is alnum/underscore — ``blimit``
    and ``price_from`` must not match ``limit``/``from``).
    Multi-word keywords use single spaces. Returns (index, kw)."""
    low = text.lower()
    depth = 0
    in_str = False
    i = start
    n = len(low)
    while i < n:
        c = low[i]
        if in_str:
            if c == "'":
                in_str = False
            i += 1
            continue
        if c == "'":
            in_str = True
            i += 1
            continue
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        elif depth == 0:
            for kw in keywords:
                if low.startswith(kw, i):
                    before_ok = i == 0 or not (
                        low[i - 1].isalnum() or low[i - 1] == "_"
                    )
                    j = i + len(kw)
                    after_ok = j >= n or not (
                        low[j].isalnum() or low[j] == "_"
                    )
                    if before_ok and after_ok:
                        return i, kw
        i += 1
    return None


def sub_outside_literals(pattern: re.Pattern, repl, text: str) -> str:
    """``pattern.sub(repl, text)`` counting only matches OUTSIDE
    single-quoted string literals — a blind re.sub would rewrite
    occurrences inside values like 'contact excluded.support'
    (ADVICE r6). The blanked twin drives positions; ``repl`` is the
    replacement text or a function of the match."""
    b = blank_literals(text)
    res, last = [], 0
    for m in pattern.finditer(b):
        res.append(text[last: m.start()])
        res.append(repl(m) if callable(repl) else repl)
        last = m.end()
    res.append(text[last:])
    return "".join(res)


def paren_depth_at(blanked: str, pos: int) -> int:
    """Paren nesting depth at ``pos`` of an already literal-blanked
    string (so parens inside string literals are gone by construction
    — callers pass ``blank_literals`` output)."""
    return blanked.count("(", 0, pos) - blanked.count(")", 0, pos)


def parse_order_item(item: str) -> tuple[str, str, str]:
    """One ORDER BY item → (expr, asc|desc, ''|first|last).
    Direction tokens only strip at the item's end, outside
    parens/literals by construction (items are top-level splits)."""
    expr, nulls, direction = item, "", "asc"
    nm = re.search(r"\s+nulls\s+(first|last)\s*$", expr, re.I)
    if nm:
        nulls = nm.group(1).lower()
        expr = expr[: nm.start()]
    dm = re.search(r"\s+(asc|desc)\s*$", expr, re.I)
    if dm:
        direction = dm.group(1).lower()
        expr = expr[: dm.start()]
    return expr.strip(), direction, nulls
