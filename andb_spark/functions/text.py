"""Text-analysis functions for LLM-data-pipeline workloads.

These cover the north-star text ops (language-ID, quality scoring, token
counting, document fingerprinting) as pure Catalyst column expressions —
no Python in the hot path, so they run JVM-side over billions of
documents. Regexes are kept to the portable subset (explicit character
classes) so the DuckDB oracle (RE2) and Spark (java.util.regex) agree.

The reference has no text functions at all; its `text` type
(andb/catalog/type.py:203-234) is storage only. This module is the
declared north-star extension surface.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny deterministic English stopword list used by the language-ID and
# quality heuristics. Kept short and stable: the oracle SQL embeds the
# same list literally.
STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it", "on", "for")


def _to_col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def tokens(text: Column | str) -> Column:
    """Whitespace tokenization → array<string>, empties removed.
    ``array_remove`` rather than a ``filter`` lambda: the lambda is
    interpreted per element, array_remove runs in generated code."""
    t = _to_col(text)
    return F.array_remove(F.split(t, r"\s+"), "")


def tokens_sql(text: str) -> str:
    """``tokens`` as Spark SQL over the SQL expression ``text``, for
    plans built from SQL text (one parse on the JVM instead of one py4j
    call per function)."""
    return f"array_remove(split({text}, '\\\\s+'), '')"


def token_count(text: Column | str) -> Column:
    return F.size(tokens(text)).cast("bigint")


def stopword_ratio(text: Column | str) -> Column:
    """Fraction of tokens that are in STOPWORDS (double)."""
    toks = tokens(F.lower(_to_col(text)))
    hits = F.size(F.filter(toks, lambda x: x.isin(*STOPWORDS)))
    # try_divide: a zero-token (empty/whitespace) document must yield
    # NULL, not abort the whole corpus job under ANSI DIVIDE_BY_ZERO
    return F.try_divide(hits.cast("double"), F.size(toks).cast("double"))


def punct_ratio(text: Column | str) -> Column:
    """Fraction of characters that are not [a-zA-Z0-9 ] (double)."""
    t = _to_col(text)
    stripped = F.regexp_replace(t, "[a-zA-Z0-9 ]", "")
    return F.try_divide(
        F.length(stripped).cast("double"), F.length(t).cast("double")
    )


def avg_token_length(text: Column | str) -> Column:
    toks = tokens(_to_col(text))
    total = F.aggregate(
        toks, F.lit(0.0), lambda acc, x: acc + F.length(x).cast("double")
    )
    return F.try_divide(total, F.size(toks).cast("double"))


def quality_from_measures(sw: Column, pr: Column, awl: Column) -> Column:
    """Quality closed form over precomputed measures. Keeping this as a
    function of *columns* lets callers stage the expensive tokenizing
    measures in one projection and reuse them — Catalyst's
    CollapseProject will not re-inline a non-trivial alias referenced
    more than once, so each document is tokenized once, not once per
    derived output column."""
    return (
        F.least(sw * F.lit(4.0), F.lit(1.0)) * F.lit(0.5)
        + (F.lit(1.0) - F.least(pr * F.lit(10.0), F.lit(1.0))) * F.lit(0.3)
        + F.when((awl >= 3.0) & (awl <= 8.0), F.lit(0.2)).otherwise(F.lit(0.0))
    )


def quality_score(text: Column | str) -> Column:
    """Deterministic [0,1] quality heuristic: rewards stopword presence
    (natural language), penalizes punctuation soup and degenerate token
    lengths. Same closed form in the oracle SQL. Prefer staging the
    three measures and calling quality_from_measures when also emitting
    the measures themselves."""
    t = _to_col(text)
    return quality_from_measures(stopword_ratio(t), punct_ratio(t), avg_token_length(t))


def lang_id(text: Column | str) -> Column:
    """N-gram-free heuristic language ID: 'en' when the English stopword
    ratio clears a threshold, else 'other'. (A real model would be a
    pandas UDF; the heuristic keeps the op oracle-checkable.)"""
    return F.when(stopword_ratio(text) >= 0.03, F.lit("en")).otherwise(
        F.lit("other")
    )


def bigrams(toks: Column) -> Column:
    """Adjacent-token bigram array: [t1 t2, t2 t3, ...] (empty for
    single-token input). Pure higher-order-function math — stays inside
    whole-stage codegen, no explode, no shuffle. zip_with over two
    shifted slices, the formulation operators/dedup.py::shingles
    benched ~9x faster than indexed element_at-per-element (which is
    O(tokens²) per document)."""
    n = F.greatest(F.size(toks) - 1, F.lit(0))
    return F.zip_with(
        F.slice(toks, F.lit(1), n),
        F.slice(toks, F.lit(2), n),
        lambda a, b: F.concat_ws(" ", a, b),
    )


def max_count_fraction(arr: Column) -> Column:
    """Fraction of the array taken by its single most frequent element
    (double; null for empty input). O(distinct × n) per row — fine for
    document-sized arrays, and shuffle-free, unlike the explode +
    groupBy + window formulation which would shuffle the whole corpus
    twice to answer a per-row question."""
    counts = F.transform(
        F.array_distinct(arr),
        lambda t: F.size(F.filter(arr, lambda x: x == t)),
    )
    return F.array_max(counts).cast("double") / F.size(arr).cast("double")


# Top-10 most frequent English letter bigrams (public corpus statistics
# — Norvig's Google-books counts). Used by the n-gram language ID.
NGRAMS = ("th", "he", "in", "er", "an", "re", "on", "at", "en", "nd")


def ngram_density(text: Column | str) -> Column:
    """Occurrences of the frequent-English-bigram set per character
    (double). Pure string arithmetic — `(len(t) - len(replace(t, g)))/2`
    per bigram — so it stays JVM-side and the DuckDB oracle can state
    the identical closed form."""
    t = F.lower(_to_col(text))
    total = None
    for g in NGRAMS:
        occ = (F.length(t) - F.length(F.replace(t, F.lit(g), F.lit("")))) / 2
        total = occ if total is None else total + occ
    return F.try_divide(total.cast("double"), F.length(t).cast("double"))


# Rabin-Karp rolling-hash parameters. MOD is a Mersenne prime small
# enough that acc*BASE + token_hash stays far below 2^63 (acc < 2^31,
# token hash < 2^32 → max ~2^37), so the fold is exact in BIGINT
# arithmetic on both Spark and DuckDB.
RH_BASE = 31
RH_MOD = 2_147_483_647


def rolling_hash(text: Column | str) -> Column:
    """Order-SENSITIVE document digest: Rabin-Karp polynomial rolling
    hash over the lowercased token stream,

        h = fold(tokens, 0, (acc, t) -> (acc*31 + h32(t)) mod (2^31-1))

    where h32(t) = first 8 hex digits of md5(t). Complements
    `fingerprint` (order-insensitive set hash): two docs with the same
    words in different order share a fingerprint but not a rolling hash.
    All JVM-side (`transform` + `aggregate` over the token array); md5
    makes the per-token value engine-portable for the oracle."""
    toks = tokens(F.lower(_to_col(text)))
    tok_h = F.transform(
        toks, lambda x: F.conv(F.substring(F.md5(x), 1, 8), 16, 10).cast("bigint")
    )
    return F.aggregate(
        tok_h,
        F.lit(0).cast("bigint"),
        lambda acc, h: (acc * F.lit(RH_BASE) + h) % F.lit(RH_MOD),
    )


# BPE-ish pre-tokenizer pattern: runs of letters, runs of digits, runs
# of other non-space chars — the GPT-2-style split that determines how
# many "pieces" a subword tokenizer would start from. ASCII classes
# only, so java.util.regex (Spark) and RE2 (DuckDB oracle) agree.
BPE_PATTERN = r"[a-z]+|[0-9]+|[^a-z0-9\s]+"


def bpe_tokens(text: Column | str) -> Column:
    """BPE-ish regex tokenization of lowercased text → array<string>.
    Unlike whitespace `tokens`, splits "don't" → ["don", "'", "t"] and
    "x2" → ["x", "2"] — the pre-tokenization granularity that token-count
    budgeting for LLM training actually needs."""
    return F.regexp_extract_all(F.lower(_to_col(text)), F.lit(BPE_PATTERN), 0)


# PII / contamination patterns — the portable regex subset (explicit
# classes, bounded quantifiers) so Spark's java.util.regex and the
# DuckDB oracle's RE2 agree.
EMAIL_PATTERN = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z][a-z]+"
URL_PATTERN = r"https?://[^ \t\n]+"


def pii_counts(text: Column | str) -> tuple[Column, Column]:
    """(n_emails, n_urls) found in the lowercased text."""
    t = F.lower(_to_col(text))
    n_emails = F.size(F.regexp_extract_all(t, F.lit(EMAIL_PATTERN), 0))
    n_urls = F.size(F.regexp_extract_all(t, F.lit(URL_PATTERN), 0))
    return n_emails.cast("bigint"), n_urls.cast("bigint")


def pii_redact(text: Column | str) -> Column:
    """Lowercased text with emails/URLs replaced by typed placeholders —
    the scrubbing transform a corpus pipeline applies before training.
    Pure Catalyst regexp_replace, JVM-side."""
    t = F.lower(_to_col(text))
    t = F.regexp_replace(t, EMAIL_PATTERN, "<email>")
    return F.regexp_replace(t, URL_PATTERN, "<url>")


def fingerprint(text: Column | str) -> Column:
    """Order-insensitive document fingerprint: md5 over the sorted set of
    lowercased tokens. Two documents that are word-permutations of each
    other collide — the classic "fingerprint" dedup key."""
    toks = F.array_distinct(F.array_sort(tokens(F.lower(_to_col(text)))))
    return F.md5(F.array_join(toks, " "))
