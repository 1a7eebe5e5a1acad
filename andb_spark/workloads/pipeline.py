"""LLM-data-pipeline workloads: dedup, text analysis, as-of join,
multimodal plumbing (build brief north-star ops; SURVEY §2.9/§7 Phase 3).

Oracle notes: every hash-based op uses md5 (available in both Spark and
DuckDB, identical hex output) and compares hex strings lexicographically
instead of converting to 64-bit ints, so the two engines never disagree
on hash arithmetic. Ratios are rounded to 6 decimals on both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from andb_spark.catalog import load_table
from andb_spark.functions import text as TX
from andb_spark.operators import bloom as BL
from andb_spark.operators import dedup as DD
from andb_spark.operators.asof import asof_join
from andb_spark.operators.multimodal import (
    audio_sample_stats,
    binarize,
    embed_image_pixels,
    extract_audio_meta,
    extract_image_meta,
    image_pixel_stats,
    pixel_embedding_expr,
    resize_payloads,
    sample_frames,
    synthesize_audio_corpus,
    synthesize_image_corpus,
)
from andb_spark.session import tune_for_session

# Shared DuckDB SQL fragments (inlined into oracles below).
_WORDS = (
    "list_filter(regexp_split_to_array({col}, '\\s+'), x -> x <> '')"
)
_SHINGLES = (
    "list_distinct(list_transform(range(1, greatest(len(w) - 1, 1)),"
    " i -> w[i] || ' ' || w[i + 1] || ' ' || w[i + 2]))"
)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune_for_session(spark)
    return load_table(spark, sf_dir, "documents")


# ---------------------------------------------------------------- dedup --
def d_exact_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    return DD.exact_dup_groups(_docs(spark, sf_dir), "text", "doc_id").orderBy(
        "text_hash"
    )


def d_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # No trailing sort: survivors are corpus-sized output; the compare
    # is order-insensitive and a global range-exchange would dominate
    # the one-shuffle dedup at scale.
    return DD.exact_dedup(_docs(spark, sf_dir), "text", "doc_id")


def d_fingerprint_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup via order-insensitive fingerprint (sorted token set)."""
    d = _docs(spark, sf_dir)
    return (
        d.select("doc_id", TX.fingerprint("text").alias("fp"))
        .groupBy("fp")
        .agg(F.count(F.lit(1)).alias("n_dups"), F.min("doc_id").alias("keep_id"))
        .filter(F.col("n_dups") > 1)
        .orderBy("fp")
    )


def d_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Near-dup pair sets are unbounded output — no trailing global sort.
    return DD.minhash_lsh_pairs(
        _docs(spark, sf_dir), "text", "doc_id", num_hashes=8, rows_per_band=2,
        threshold=0.5,
    )


def d_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir).filter(F.col("doc_id") < 300)
    return DD.ngram_jaccard_pairs(d, "text", "doc_id", threshold=0.3).orderBy(
        "id_a", "id_b"
    )


def d_dup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs → duplicate GROUPS via connected components
    (transitive closure). The edge set is the exact n-gram Jaccard
    graph; the component id is the min doc_id — the survivor every
    other member dedups to."""
    d = _docs(spark, sf_dir).filter(F.col("doc_id") < 300)
    edges = DD.ngram_jaccard_pairs(d, "text", "doc_id", threshold=0.3)
    return (
        DD.connected_components(edges)
        .select(F.col("node").alias("doc_id"), "component_id")
        .orderBy("doc_id")
    )


def d_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end near-dup REMOVAL: jaccard pairs → connected
    components → keep one doc (min id) per duplicate group, plus every
    unpaired doc. The anti-join applies the component labels back to
    the corpus — the actual "write the cleaned corpus" step downstream
    of d_dup_components' diagnostics."""
    d = _docs(spark, sf_dir).filter(F.col("doc_id") < 300)
    edges = DD.ngram_jaccard_pairs(d, "text", "doc_id", threshold=0.3)
    drop = (
        DD.connected_components(edges)
        .filter(F.col("node") != F.col("component_id"))
        .select(F.col("node").alias("doc_id"))
    )
    return d.join(drop, "doc_id", "left_anti").select("doc_id").orderBy(
        "doc_id"
    )


def d_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir).filter(F.col("doc_id") < 300)
    return DD.simhash(d, "text", "doc_id", bits=16).orderBy("doc_id")


def d_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup PAIRS (completing d_simhash's fingerprints):
    pigeonhole 4-bit bands generate candidates by equality join, exact
    popcount(xor) <= 2 verifies. One BIGINT of state per doc — the
    cheap near-exact-dup screen a pipeline runs before the costlier
    Jaccard MinHash pass."""
    d = _docs(spark, sf_dir).filter(F.col("doc_id") < 300)
    return DD.simhash_pairs(
        d, "text", "doc_id", bits=16, max_hamming=2
    ).orderBy("id_a", "id_b")


def d_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup — the production shape: dedup an INCREMENT
    (docs 400+) against the HISTORICAL corpus (docs <400) without
    rescanning history per pair. Anti-join on content hash; at 100 TB
    the historical side is a bucketed table of content hashes (hash =
    join key, pre-bucketed ⇒ the nightly increment join is shuffle-free
    on the history side and the increment side is tiny)."""
    d = _docs(spark, sf_dir)
    new = d.filter(F.col("doc_id") >= 400).select(
        "doc_id", F.md5(F.col("text")).alias("h")
    )
    old = d.filter(F.col("doc_id") < 400).select(
        F.md5(F.col("text")).alias("h")
    )
    return new.join(old, "h", "left_anti").select("doc_id").orderBy("doc_id")


def d_bloom_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup with a BROADCAST Bloom filter instead of the
    anti-join (compare d_incremental_dedup): the history's content
    hashes are packed once into a bit array (operators/bloom.py) that
    ships to every executor, and the increment is screened with a local
    bit test — no shuffle, no history scan at query time, and per-day
    filters merge by bitwise OR. Drops a ~fpp fraction of genuinely-new
    docs (deterministically — fixed xxhash64 lanes); never passes a true
    duplicate. No DuckDB oracle (the verdict depends on the filter's
    internal hashing); tests/test_operators.py pins the no-false-
    negative invariant and the false-positive budget. NOT spread
    (r7 fan-out audit, SCALE.md §7): the md5+bitset probe is ~one
    hash per doc — measured 0.75→0.97 s WITH the fan-out shuffle at
    sf0.1; the raw-text exchange costs more than the CPU it spreads."""
    d = _docs(spark, sf_dir)
    hist = d.filter(F.col("doc_id") < 400).select(
        F.md5(F.col("text")).alias("h")
    )
    inc = d.filter(F.col("doc_id") >= 400).select(
        "doc_id", F.md5(F.col("text")).alias("h")
    )
    bf = BL.build_bloom(hist, "h", fpp=0.01)
    return BL.bloom_new_items(inc, "h", bf).select("doc_id").orderBy("doc_id")


def d_bloom_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-gradable twin of d_bloom_dedup (the sketch-invariant
    pattern): the Bloom screen may drop a ~fpp fraction of genuinely
    new docs, but it must NEVER pass a true duplicate — every
    increment doc whose content exists in history must be screened
    out. n_true_dups is an exact number the oracle recomputes
    independently; n_missed_dups (true dups surviving the screen) must
    be 0; n_kept <= n_new states the one-sided-error direction. All
    three are deterministic (fixed xxhash64 lanes)."""
    d = _docs(spark, sf_dir)
    hist = d.filter(F.col("doc_id") < 400).select(
        F.md5(F.col("text")).alias("h")
    )
    inc = d.filter(F.col("doc_id") >= 400).select(
        "doc_id", F.md5(F.col("text")).alias("h")
    )
    bf = BL.build_bloom(hist, "h", fpp=0.01)
    kept = BL.bloom_new_items(inc, "h", bf).select("doc_id", "h")
    true_dups = inc.join(hist.distinct(), "h", "left_semi")
    missed = kept.join(hist.distinct(), "h", "left_semi")
    return (
        true_dups.agg(F.count(F.lit(1)).alias("n_true_dups"))
        .crossJoin(missed.agg(F.count(F.lit(1)).alias("n_missed_dups")))
        .crossJoin(
            kept.agg(F.count(F.lit(1)).alias("nk"))
            .crossJoin(inc.agg(F.count(F.lit(1)).alias("nn")))
            .select((F.col("nk") <= F.col("nn")).alias("one_sided"))
        )
        .select(
            F.col("n_true_dups").cast("bigint").alias("n_true_dups"),
            F.col("n_missed_dups").cast("bigint").alias("n_missed_dups"),
            "one_sided",
        )
    )


def d_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup (not just exact) incremental dedup: the ingest increment
    (docs 400+) LSH-joined against the historical corpus's maintained
    band table (docs <400; operators/dedup.py::band_table +
    incremental_minhash_pairs), then exact-Jaccard verified. Signature
    work ∝ increment; verify work ∝ candidates — history is never
    re-shingled wholesale."""
    d = _docs(spark, sf_dir)
    hist = d.filter(F.col("doc_id") < 400)
    new = d.filter(F.col("doc_id") >= 400)
    return DD.incremental_minhash_pairs(
        hist, new, "text", "doc_id", num_hashes=8, rows_per_band=2,
        threshold=0.5,
    ).orderBy("id_a", "id_b")


def d_repeated_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Passage-level duplication report: every 16-token chunk occurring
    2+ times corpus-wide, with its first occurrence (operators/dedup.py
    ::repeated_passages — the Lee et al. 2022 exact-substring-dedup
    granularity). Catches cross-document boilerplate that doc-level
    hashing (d_exact_dup_groups) misses. One hash-keyed groupBy."""
    d = _docs(spark, sf_dir)
    return DD.repeated_passages(d, "text", "doc_id", k=16).orderBy(
        "chunk_hash"
    )


def d_passage_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Passage-scrubbed corpus: drop every repeat of a duplicated
    16-token chunk except its global first occurrence, reassemble each
    doc from its kept chunks (operators/dedup.py::
    scrub_repeated_passages). The rewrite sibling of
    d_repeated_passages: the corpus keeps every distinct passage
    exactly once. Two chunk-sized shuffles, no all-pairs term."""
    d = _docs(spark, sf_dir)
    return DD.scrub_repeated_passages(d, "text", "doc_id", k=16).orderBy(
        "doc_id"
    )


# The recall audit's MinHash bucket: a base hash below 2^20 is an md5
# whose first 4 hex digits are below '0100' (1/256 of all shingles).
_AUDIT_BUCKET = 1 << 20


def d_lsh_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-audit of the LSH banding scheme (8 hashes × 2 rows/band):
    candidate recall against exact n-gram-Jaccard ground truth on a
    bounded subset, plus candidate volume (the cost side of the
    recall/cost dial). THE tuning query for bands/rows choices: recall
    < 1 means truly-similar pairs never became candidates (missed by
    every band), n_cand >> n_exact means bands are too permissive. The
    exact side is quadratic, hence the bounded subset — the audit runs
    on a sample, the tuned parameters apply corpus-wide.

    The sample must PRESERVE near-dup pairs or the ground truth is
    empty (an id-range slice cuts every planted pair in half at sf0.1,
    where pair partners span the full id range). So the subset is a
    MinHash bucket: keep docs whose minimum shingle hash sorts below a
    fixed cutoff — near-identical docs share their min shingle hash
    with probability ≈ their Jaccard, so pairs survive or drop as a
    unit, at any corpus scale. recall is NULL (not a crash) if the
    sampled ground truth is ever empty.

    The bucket is the document's minimum base hash (``base_min`` of
    the MinHash aggregate) below 2^20: the base hash is md5's first 7
    hex digits, so this is the same sample as "min md5(shingle) <
    '0100'". One lazy plan: the sample, the exact ground truth (the
    sampled shingle sets, inverted-indexed) and the bands all read one
    per-document aggregate, whose exchange AQE computes once. The
    sample predicate sits above that exchange, so no pushdown can move
    it into the scan's stage."""
    d = DD.minhash_docs(_docs(spark, sf_dir), "text", "doc_id", 8).where(
        F.col("base_min") < _AUDIT_BUCKET
    )
    exact = DD.shingle_jaccard_pairs(
        d.select(
            F.col("doc_id").alias("_id"), F.explode("shingles").alias("shingle")
        ),
        threshold=0.5,
    ).select("id_a", "id_b")
    cand = DD.lsh_candidate_pairs(
        DD.lsh_bands(d, "doc_id", num_hashes=8, rows_per_band=2), "doc_id"
    )
    # both pair sets are distinct: one outer join counts all three
    return (
        exact.withColumn("_e", F.lit(1))
        .join(cand.withColumn("_c", F.lit(1)), ["id_a", "id_b"], "full")
        .agg(
            F.count("_e").alias("n_exact"),
            F.count("_c").alias("n_cand"),
            F.count(F.col("_e") + F.col("_c")).alias("n_hit"),
        )
        .withColumn(
            "recall",
            F.round(F.try_divide(F.col("n_hit"), F.col("n_exact")), 6),
        )
    )


def d_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (the GPT-3 appendix-C shape): flag
    training docs that share any word 5-gram with the EVAL set (docs
    0-19 standing in for a benchmark). Asymmetric by design — the eval
    side is tiny, so its distinct n-gram set BROADCASTS and the corpus
    side stays a scan + broadcast-hash-join probe: no corpus shuffle at
    all until the per-doc count agg. Distinct from d_cross_source_dups
    (exact-text collisions) and d_ngram_jaccard (pairwise similarity):
    one shared n-gram flags, however dissimilar the docs."""
    d = _docs(spark, sf_dir)
    grams = lambda df: df.select(  # noqa: E731
        "doc_id", F.explode(DD.shingles("text", n=5)).alias("g")
    )
    eval_grams = grams(d.filter(F.col("doc_id") < 20)).select("g").distinct()
    corpus = grams(d.filter(F.col("doc_id") >= 20))
    return (
        corpus.join(F.broadcast(eval_grams), "g")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared_grams"))
        .orderBy("doc_id")
    )


def d_cross_source_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contamination check: texts that appear in MORE THAN ONE source —
    the shape of train/eval leakage detection (same content on both
    sides of a split). One hash-groupBy; the source list is a bounded
    distinct-set per hash, emitted as a sorted string for a stable
    cross-engine representation."""
    d = _docs(spark, sf_dir)
    return (
        d.groupBy(F.md5(F.col("text")).alias("text_hash"))
        .agg(
            F.countDistinct("source").alias("n_sources"),
            F.count(F.lit(1)).alias("n_copies"),
            F.array_join(
                F.array_sort(F.collect_set("source")), ","
            ).alias("sources"),
        )
        .filter(F.col("n_sources") > 1)
        .orderBy("text_hash")
    )


# ---------------------------------------------------------- text analysis --
def t_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Stage the token array once; the three measures derive from the
    # staged column (tokenize-once — a single regex split per document
    # instead of one per output column).
    d = _docs(spark, sf_dir)
    staged = d.select(
        "doc_id", "text", TX.tokens(F.col("text")).alias("_toks")
    )
    toks = F.col("_toks")
    total_len = F.aggregate(
        toks, F.lit(0.0), lambda acc, x: acc + F.length(x).cast("double")
    )
    return (
        staged.select(
            "doc_id",
            F.size(toks).cast("bigint").alias("n_tokens"),
            F.size(F.array_distinct(toks)).cast("bigint").alias("n_unique"),
            F.round(total_len / F.size(toks).cast("double"), 6).alias(
                "avg_tok_len"
            ),
        )
        .orderBy("doc_id")
    )


def t_lang_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Stage the three tokenizing measures in one projection, then derive
    # lang/quality from the staged columns. Without staging, the four
    # output columns each inline the tokenize+filter lambdas (~5 regex
    # splits per document); with it, each measure runs once. The scan
    # is spread first: the regex-split stage is CPU-bound and a small
    # corpus arrives as one parquet row group (SCALE.md §7 fan-out
    # family — no-op at real corpus scale).
    d = DD.spread_small_input(_docs(spark, sf_dir))
    staged = d.select(
        "doc_id",
        TX.stopword_ratio("text").alias("_sw"),
        TX.punct_ratio("text").alias("_pr"),
        TX.avg_token_length("text").alias("_awl"),
    )
    sw, pr, awl = F.col("_sw"), F.col("_pr"), F.col("_awl")
    return (
        staged.select(
            "doc_id",
            F.when(sw >= 0.03, F.lit("en")).otherwise(F.lit("other")).alias(
                "lang_pred"
            ),
            F.round(sw, 6).alias("stopword_ratio"),
            F.round(pr, 6).alias("punct_ratio"),
            F.round(TX.quality_from_measures(sw, pr, awl), 6).alias("quality"),
        )
        # No trailing sort: per-document scores are corpus-sized output —
        # keeping the query a single shuffle-free scan stage.
    )


def t_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _docs(spark, sf_dir)
        .select("doc_id", TX.fingerprint("text").alias("fp"))
        .orderBy("doc_id")
    )


def t_lang_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level language ID (frequent-English-bigram density) next
    to the token-level stopword classifier — the two standard cheap
    signals a corpus pipeline combines before paying for a model."""
    d = _docs(spark, sf_dir)
    staged = d.select("doc_id", TX.ngram_density("text").alias("_nd"))
    nd = F.col("_nd")
    return staged.select(
        "doc_id",
        F.round(nd, 6).alias("ngram_density"),
        F.when(nd >= 0.08, F.lit("en")).otherwise(F.lit("other")).alias(
            "lang_ngram"
        ),
    ).orderBy("doc_id")


def t_rolling_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive Rabin-Karp digest vs the order-insensitive set
    fingerprint: docs sharing `fp` but not `rh` are word-permutations."""
    return (
        _docs(spark, sf_dir)
        .select(
            "doc_id",
            TX.rolling_hash("text").alias("rh"),
            TX.fingerprint("text").alias("fp"),
        )
        .orderBy("doc_id")
    )


def t_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals (Rae et al. 2021 §A1.1):
    duplicate-token fraction, top-token fraction, and top-bigram
    fraction per document, plus a repetitive-document flag. All four
    measures are higher-order-function math over one staged token
    array — a single shuffle-free scan stage, no explode/groupBy
    (which would shuffle the whole corpus to answer a per-row
    question). The reference has no text analysis at all (its only
    function is cosine_distance, catalog/buitin_functions.py:3-12);
    north-star surface."""
    d = _docs(spark, sf_dir)
    staged = d.select(
        "doc_id", TX.tokens(F.lower(F.col("text"))).alias("_w")
    )
    w = F.col("_w")
    staged2 = staged.select("doc_id", w, TX.bigrams(w).alias("_b"))
    b = F.col("_b")
    staged3 = staged2.select(
        "doc_id",
        F.size(w).cast("bigint").alias("n_tokens"),
        F.round(
            F.lit(1.0)
            - F.size(F.array_distinct(w)).cast("double")
            / F.size(w).cast("double"),
            6,
        ).alias("dup_token_frac"),
        F.round(TX.max_count_fraction(w), 6).alias("top_token_frac"),
        F.round(TX.max_count_fraction(b), 6).alias("top_bigram_frac"),
    )
    # Flag from the ROUNDED measures so the threshold comparison can
    # never straddle a float ulp between engines.
    return staged3.withColumn(
        "flagged",
        (
            (F.col("top_token_frac") >= 0.15)
            | (F.col("top_bigram_frac") >= 0.08)
        ).cast("int"),
    )
    # No trailing sort: per-document scores are corpus-sized output.


def t_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram entropy per document (nats) — the vocabulary-diversity
    quality signal: repetitive/templated docs score low, natural text
    high. Same shuffle-free HOF shape as t_repetition: per-distinct-
    token counts folded into -Σ p·ln p inside one scan stage."""
    d = _docs(spark, sf_dir)
    staged = d.select(
        "doc_id", TX.tokens(F.lower(F.col("text"))).alias("_w")
    )
    w = F.col("_w")
    n = F.size(w).cast("double")
    probs = F.transform(
        F.array_distinct(w),
        lambda t: F.size(F.filter(w, lambda x: x == t)).cast("double") / n,
    )
    entropy = -F.aggregate(
        probs, F.lit(0.0), lambda acc, p: acc + p * F.log(p)
    )
    return staged.select(
        "doc_id",
        F.size(w).cast("bigint").alias("n_tokens"),
        F.round(entropy, 6).alias("entropy"),
    )
    # No trailing sort: corpus-sized per-doc output.


def t_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate screen: document PREFIXES (first 2 tokens) that
    repeat across many docs of one source — the shape of shared
    headers/templates (CCNet-style cleanup finds footers the same way
    on reversed arrays). One groupBy on (source, prefix); the prefix
    is a pure slice of the token array, no explode."""
    d = _docs(spark, sf_dir)
    prefix = F.concat_ws(
        " ", F.slice(TX.tokens(F.lower(F.col("text"))), 1, 2)
    )
    return (
        d.groupBy("source", prefix.alias("prefix2"))
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") >= 2)
        .orderBy("source", "prefix2")
    )


def t_source_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level rollup by source — the triage query of a data
    pipeline (volume, dedup rate, token budget per source)."""
    d = _docs(spark, sf_dir)
    return (
        d.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct(F.md5(F.col("text"))).alias("n_unique_texts"),
            F.sum(TX.token_count("text")).alias("total_tokens"),
            F.round(F.avg(F.col("n_chars")), 6).alias("avg_chars"),
        )
        .orderBy("source")
    )


def t_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish regex token budget per document: piece count by class
    (letters / digits / punctuation runs) and fertility — pieces per
    whitespace word, the number that turns a corpus size into a training
    token budget. Tokenizes once into a staged array column."""
    d = _docs(spark, sf_dir)
    staged = d.select(
        "doc_id",
        TX.bpe_tokens("text").alias("_bt"),
        TX.token_count("text").alias("_nw"),
    )
    bt = F.col("_bt")
    n_bpe = F.size(bt).cast("bigint")
    n_alpha = F.size(F.filter(bt, lambda x: x.rlike("^[a-z]+$"))).cast("bigint")
    n_num = F.size(F.filter(bt, lambda x: x.rlike("^[0-9]+$"))).cast("bigint")
    return staged.select(
        "doc_id",
        n_bpe.alias("n_bpe"),
        n_alpha.alias("n_alpha"),
        n_num.alias("n_num"),
        (n_bpe - n_alpha - n_num).alias("n_punct"),
        F.round(n_bpe.cast("double") / F.col("_nw").cast("double"), 6).alias(
            "fertility"
        ),
    ).orderBy("doc_id")


def t_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub stage: count emails/URLs per document and emit the
    digest of the redacted text (placeholder-substituted) — the
    before-training scrubbing pass, all JVM-side regexp. On this
    synthetic corpus most counts are zero; the oracle still pins the
    exact counting + redaction semantics."""
    d = _docs(spark, sf_dir)
    n_emails, n_urls = TX.pii_counts(F.col("text"))
    return d.select(
        "doc_id",
        n_emails.alias("n_emails"),
        n_urls.alias("n_urls"),
        F.md5(TX.pii_redact(F.col("text"))).alias("redacted_hash"),
    ).orderBy("doc_id")


def t_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide top-50 tokens by frequency — the vocabulary/heavy-
    hitter query every tokenizer-training pipeline starts from. Explode →
    partial-aggregated count → TakeOrderedAndProject: the shuffle carries
    one row per (token, partition), the driver sees 50 rows. At 100 TB
    swap the exact count for a count-min/approx top-k only if the
    vocabulary itself (not the corpus) outgrows the cluster."""
    d = _docs(spark, sf_dir)
    return (
        d.select(F.explode(TX.tokens(F.lower(F.col("text")))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("token"))
        .limit(50)
    )


def t_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking: split every document into fixed 64-token
    chunks (the pre-tokenization step of sequence packing; pack_shards
    then groups chunks into shards). Tokenize once, explode a 0..n_chunks
    sequence, slice the token array per chunk — all JVM-side array ops in
    one narrow stage, no shuffle until the output sort. Chunk identity is
    an md5 over the re-joined token slice so the oracle compares content,
    not engine-side array representations. Empty documents produce zero
    chunks (the sequence is guarded: Spark's sequence(0, -1) would count
    DOWN, not produce an empty array)."""
    # ONE copy of the chunk-identity convention (slice bounds,
    # empty-doc guard, md5-over-joined-slice hash): the same
    # passage_chunks machinery that d_repeated_passages /
    # d_passage_scrub and their oracles depend on. NOT spread (r7
    # fan-out audit, SCALE.md §7): one tokenize + one md5 per chunk —
    # measured 0.57→0.70 s WITH the fan-out shuffle at sf0.1.
    d = _docs(spark, sf_dir)
    return (
        DD.passage_chunks(d, "text", "doc_id", k=64)
        .select("doc_id", "chunk_idx", "n_tokens", "chunk_hash")
        .orderBy("doc_id", "chunk_idx")
    )


def t_approx_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based heavy hitters: approx_top_k (Datasketches frequent-
    items) over the token stream — the scale path for t_heavy_hitters
    when the vocabulary itself outgrows a groupBy (web-scale corpora:
    billions of distinct tokens/URLs/hosts). The sketch is bounded-memory
    (maxItemsTracked slots), partial-aggregatable and mergeable, so the
    shuffle carries one sketch per partition instead of one row per
    distinct token. No DuckDB oracle (sketch internals differ);
    tests/test_operators.py pins sketch-vs-exact agreement at this scale,
    where maxItemsTracked exceeds the vocabulary and counts are exact."""
    d = _docs(spark, sf_dir)
    toks = d.select(
        F.explode(TX.tokens(F.lower(F.col("text")))).alias("token")
    )
    sketch = toks.agg(
        F.expr("approx_top_k(token, 20, 100000)").alias("tk")
    )
    return (
        sketch.select(F.explode("tk").alias("e"))
        .select(
            F.col("e.item").alias("token"),
            F.col("e.count").alias("n"),
        )
        .orderBy(F.col("n").desc(), "token")
    )


def t_approx_topk_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-gradable twin of t_approx_topk (VERDICT r4 #6): the sketch
    items themselves are engine-specific, but the correctness
    INVARIANTS are exact booleans — (a) every reported count equals
    the exact count (maxItemsTracked=100000 far exceeds this corpus
    vocabulary, so the frequent-items sketch operates in its exact
    regime), (b) every reported item belongs to the top tier (count ≥
    the 20th-largest exact count — set equality modulo ties at the
    boundary), (c) exactly k items are reported. The exact side is
    computed in Spark over the SAME tokenization, so the oracle is
    pure literals."""
    d = _docs(spark, sf_dir)
    toks = d.select(
        F.explode(TX.tokens(F.lower(F.col("text")))).alias("token")
    )
    sk = (
        toks.agg(F.expr("approx_top_k(token, 20, 100000)").alias("tk"))
        .select(F.explode("tk").alias("e"))
        .select(
            F.col("e.item").alias("token"),
            F.col("e.count").alias("n_sketch"),
        )
    )
    exact = toks.groupBy("token").agg(F.count(F.lit(1)).alias("n_exact"))
    kth = (
        exact.orderBy(F.col("n_exact").desc())
        .limit(20)
        .agg(F.min("n_exact").alias("kth"))
    )
    return (
        sk.join(exact, "token", "left")
        .crossJoin(F.broadcast(kth))
        .agg(
            (
                F.count(F.when(F.col("n_sketch") != F.col("n_exact"), 1))
                == 0
            ).alias("counts_exact"),
            (
                F.count(F.when(F.col("n_sketch") < F.col("kth"), 1)) == 0
            ).alias("covers_top_tier"),
            (F.count(F.lit(1)) == 20).alias("k_items"),
        )
    )


def t_dup_rate_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-health dashboard: per source, document count, how many
    documents are copies of an earlier one (exact content hash), and
    the dup rate — the triage number a dedup run is judged by. One
    window over content hash + one bounded per-source aggregation."""
    from pyspark.sql import Window

    d = _docs(spark, sf_dir)
    w = Window.partitionBy(F.md5(F.col("text"))).orderBy("doc_id")
    flagged = d.select(
        "source",
        (F.row_number().over(w) > 1).cast("int").alias("is_dup"),
    )
    return (
        flagged.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("is_dup").alias("n_dups"),
            F.round(F.sum("is_dup") / F.count(F.lit(1)), 6).alias("dup_rate"),
        )
        .orderBy("source")
    )


def t_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 characteristic terms per document by smoothed TF-IDF
    (idf = ln((N+1)/(df+1)) + 1, sklearn's smoothing). Two aggregations
    (term-frequency per doc, document-frequency per term) + a broadcast-
    sized join on term + a per-doc top-k window. The df table is
    vocabulary-sized — broadcastable at any corpus scale."""
    d = _docs(spark, sf_dir).filter(F.col("doc_id") < 50)
    toks = d.select(
        "doc_id", F.explode(TX.tokens(F.lower(F.col("text")))).alias("term")
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    # corpus size as a 1-row broadcast INSIDE the plan (the bm25_scores
    # shape) — an eager d.count() here would run a full extra Spark job
    # at every query BUILD (bench warm-ups, plan inspection) and freeze
    # the count into the plan as a literal
    stats = d.agg(F.count(F.lit(1)).alias("_n"))
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "tfidf",
            F.col("tf")
            * (
                F.log(
                    (F.col("_n") + 1).cast("double")
                    / (F.col("df") + 1).cast("double")
                )
                + F.lit(1.0)
            ),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("term")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select(
            "doc_id",
            "term",
            F.round(F.col("tfidf"), 6).alias("tfidf"),
            F.col("rank").cast("int").alias("rank"),
        )
        .orderBy("doc_id", "rank")
    )


# BM25 retrieval constants (Robertson/Sparck Jones; the Okapi defaults).
# Query terms are fixed literals so per-doc term frequencies compile to
# Catalyst array expressions — no explode, no corpus shuffle.
_BM25_TERMS = ("spark", "vector", "stream")
_BM25_K1, _BM25_B = 1.2, 0.75


def bm25_scores(d: DataFrame) -> DataFrame:
    """Per-document BM25 score for the fixed ``_BM25_TERMS`` query —
    the scoring stage shared by ``t_bm25_topk`` and the hybrid-fusion
    retrieval (vectors.v_hybrid_rrf). Plan shape: ONE shuffle-free scan
    stage computes per-doc length + per-term tf via array filters (the
    query term set is tiny and known, so no inverted index, no
    explode); a one-row corpus-stats aggregate (N, avgdl, per-term df)
    broadcasts back; scoring is pure Catalyst math. At 100 TB: scan +
    1-row broadcast — no corpus-sized shuffle anywhere. Returns
    (doc_id, bm25) with bm25 rounded to 6 dp (the cross-engine
    deterministic ordering key)."""
    toks = TX.tokens(F.lower(F.col("text")))

    def _tf(term: str) -> F.Column:
        # NB: single-parameter lambda — a two-arg lambda would be
        # interpreted by F.filter as (element, index)
        return F.size(F.filter(F.col("_w"), lambda x: x == F.lit(term)))

    staged = d.select("doc_id", toks.alias("_w")).select(
        "doc_id",
        F.size("_w").alias("dl"),
        *[_tf(t).alias(f"tf_{i}") for i, t in enumerate(_BM25_TERMS)],
    )
    stats = staged.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg("dl").alias("avgdl"),
        *[
            F.sum((F.col(f"tf_{i}") > 0).cast("long")).alias(f"df_{i}")
            for i in range(len(_BM25_TERMS))
        ],
    )
    joined = staged.crossJoin(F.broadcast(stats))  # 1-row stats side
    score = F.lit(0.0)
    for i in range(len(_BM25_TERMS)):
        idf = F.log(
            F.lit(1.0)
            + (F.col("n_docs") - F.col(f"df_{i}") + F.lit(0.5))
            / (F.col(f"df_{i}") + F.lit(0.5))
        )
        tf = F.col(f"tf_{i}").cast("double")
        score = score + idf * (tf * (_BM25_K1 + 1.0)) / (
            tf
            + _BM25_K1
            * (1.0 - _BM25_B + _BM25_B * F.col("dl") / F.col("avgdl"))
        )
    return joined.select("doc_id", F.round(score, 6).alias("bm25"))


def t_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-20 documents for a fixed keyword query — the lexical
    retrieval baseline every corpus pipeline needs next to its vector
    search (`v_cosine_topk`). Scoring plan: see ``bm25_scores``; the
    top-k is a TakeOrdered, so the whole query is scan + 1-row
    broadcast + top-k. The reference has no text retrieval at all (its
    only function is cosine_distance,
    andb/catalog/buitin_functions.py:3-12); north-star surface."""
    return (
        bm25_scores(_docs(spark, sf_dir))
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(20)
    )


def t_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-length distribution in 100-char buckets with per-bucket
    mean token count — the corpus-shape triage chart. One aggregation."""
    d = _docs(spark, sf_dir)
    return (
        d.select(
            (F.floor(F.col("n_chars") / 100) * 100).alias("bucket_lo"),
            TX.token_count("text").alias("_nt"),
        )
        .groupBy("bucket_lo")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("_nt"), 6).alias("avg_tokens"),
        )
        .orderBy("bucket_lo")
    )


def p_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-driven corpus filter: keep documents strictly above their
    source's median quality score — the percentile-threshold filtering
    step of a training pipeline (threshold from the data, not a magic
    constant). One agg for the per-source medians (exact interpolated
    percentile; the threshold table is strata-sized → broadcast), one
    broadcast join + filter over the corpus. At 100 TB swap the exact
    percentile for approx_percentile; the dataflow is unchanged."""
    d = _docs(spark, sf_dir)
    staged = d.select(
        "doc_id",
        "source",
        TX.stopword_ratio("text").alias("_sw"),
        TX.punct_ratio("text").alias("_pr"),
        TX.avg_token_length("text").alias("_awl"),
    )
    scored = staged.select(
        "doc_id",
        "source",
        TX.quality_from_measures(
            F.col("_sw"), F.col("_pr"), F.col("_awl")
        ).alias("_q"),
    )
    med = scored.groupBy("source").agg(
        F.percentile("_q", F.lit(0.5)).alias("_med")
    )
    return (
        scored.join(F.broadcast(med), "source")
        .filter(F.col("_q") > F.col("_med"))
        .select(
            "doc_id",
            "source",
            F.round(F.col("_q"), 6).alias("quality"),
            F.round(F.col("_med"), 6).alias("source_median"),
        )
        .orderBy("doc_id")
    )


# -------------------------------------------------------------- sampling --
def p_sample_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~12.5% Bernoulli sample of the corpus keyed on
    doc_id (operators/sampling.py::hash_sample) — a pure scan filter,
    repeatable across runs/engines/partitionings."""
    from andb_spark.operators.sampling import hash_sample

    d = _docs(spark, sf_dir)
    # No trailing sort: the sample is corpus-fraction-sized and the
    # correctness compare is order-insensitive — the whole query stays a
    # single shuffle-free scan+filter stage.
    return hash_sample(d, "doc_id", fraction=0.125).select("doc_id", "source")


def p_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly 5 docs per source in deterministic hash order
    (operators/sampling.py::stratified_sample) — the balanced-subset
    primitive for eval-set construction."""
    from andb_spark.operators.sampling import stratified_sample

    d = _docs(spark, sf_dir)
    return stratified_sample(d, ["source"], 5, "doc_id").select(
        "source", "doc_id", "sample_rank"
    ).orderBy("source", "sample_rank")


def p_sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """~64 docs sampled proportional to length (systematic PPS,
    operators/sampling.py::weighted_systematic_sample) — the
    token-budget-aware subset primitive: long documents carry more
    training tokens, so a length-weighted sample matches the token
    distribution a uniform sample misses."""
    from andb_spark.operators.sampling import weighted_systematic_sample

    d = _docs(spark, sf_dir)
    return (
        weighted_systematic_sample(d, "n_chars", "doc_id", k=64)
        .select("doc_id", F.col("n_chars").alias("weight"))
        .orderBy("doc_id")
    )


def p_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document cap — the anti-domination rebalancer (cap any
    one domain/source at N docs so it cannot swamp the mixture). Keeps
    the first 40 docs per source in deterministic hash order (same
    total-ordered digest as stratified sampling) and reports
    kept/dropped per source. One window shuffle on source + one
    bounded aggregation; at corpus scale the cap runs per-partition
    first (rank ≤ N survives partial filtering) and sources are
    high-cardinality domains, so the window key does not skew."""
    from andb_spark.operators.sampling import stratified_sample

    d = _docs(spark, sf_dir)
    capped = stratified_sample(d, ["source"], 40, "doc_id")
    return (
        d.groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .join(
            capped.groupBy("source").agg(
                F.count(F.lit(1)).alias("n_kept")
            ),
            "source",
        )
        .select(
            "source",
            "n_docs",
            "n_kept",
            (F.col("n_docs") - F.col("n_kept")).alias("n_dropped"),
        )
        .orderBy("source")
    )


def p_mixture_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixture planning: given per-source target shares (here a
    deterministic 1/2/3-weight ramp over the source id) and a global
    char budget (50% of the corpus), compute each source's sampling
    rate = min(1, budget·share / available) and the planned chars it
    contributes. One corpus-sized shuffle (the per-source agg); the
    mixture math runs on the 20-row rollup with the totals broadcast —
    the plan a pipeline feeds into hash_sample per source."""
    d = _docs(spark, sf_dir)
    s = d.groupBy("source").agg(F.sum("n_chars").alias("avail")).withColumn(
        "w", 1 + F.substring("source", 4, 10).cast("int") % 3
    )
    t = s.agg(
        F.sum("avail").alias("tot_chars"), F.sum("w").alias("tot_w")
    )
    rate = F.least(
        F.lit(1.0),
        F.lit(0.5)
        * F.col("tot_chars")
        * F.col("w")
        / F.col("tot_w")
        / F.col("avail"),
    )
    return (
        s.crossJoin(F.broadcast(t))
        .select(
            "source",
            F.col("avail").cast("bigint").alias("avail"),
            F.round(F.col("w").cast("double") / F.col("tot_w"), 6).alias(
                "target_share"
            ),
            F.round(rate, 6).alias("rate"),
            F.floor(rate * F.col("avail")).cast("bigint").alias(
                "planned_chars"
            ),
        )
        .orderBy("source")
    )


def p_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 90/5/5 train/val/test split
    (operators/sampling.py::hash_split) rolled up per split — assignment
    is a pure scan expression on the doc_id digest, so a document keeps
    its split forever as the corpus grows (no eval-set churn)."""
    from andb_spark.operators.sampling import hash_split

    d = _docs(spark, sf_dir)
    return (
        hash_split(d, "doc_id", {"train": 0.9, "val": 0.05, "test": 0.05})
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
        .orderBy("split")
    )


def p_pack_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pack documents into ~25k-char contiguous training shards
    (operators/sampling.py::pack_shards — two-phase prefix sum, exact
    integer math), rolled up per shard. The write-side twin is
    `df.write.partitionBy('shard_id')` — shards become directories."""
    from andb_spark.operators.sampling import pack_shards

    d = _docs(spark, sf_dir)
    return (
        pack_shards(d, "n_chars", "doc_id", budget=25000)
        .groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
        .orderBy("shard_id")
    )


def p_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole training-data pipeline as ONE composed, oracle-checked
    query: quality filter (≥20 tokens) → exact dedup (min-id survivor
    per content hash) → deterministic train split (digest threshold) →
    token-budget shard packing — the capstone statement that the
    operator stages compose. Tokenization happens ONCE (the count rides
    along every stage); the stages contribute one agg shuffle (dedup),
    a scan-expression split (free), and the two-phase prefix sum
    (pack_shards — never single-partitions the corpus). Output is one
    bounded row per shard."""
    from andb_spark.operators.sampling import hash_split, pack_shards

    # NOT spread (r7 fan-out audit, SCALE.md §7): the tokenize output
    # feeds the dedup groupBy's own exchange anyway; adding a raw-text
    # repartition ahead of it measured ambiguous-to-worse
    # (0.98→1.26 s best-of-5 at sf0.1)
    d = _docs(spark, sf_dir)
    staged = d.withColumn("_nt", TX.token_count("text")).filter(
        F.col("_nt") >= 20
    )
    keep = staged.groupBy(F.md5(F.col("text")).alias("h")).agg(
        F.min("doc_id").alias("doc_id")
    )
    clean = staged.join(keep.select("doc_id"), "doc_id", "left_semi")
    train = hash_split(
        clean, "doc_id", {"train": 0.9, "val": 0.05, "test": 0.05}
    ).filter(F.col("split") == "train")
    shards = pack_shards(train, "_nt", "doc_id", budget=2000)
    return (
        shards.groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("_nt").alias("total_tokens"),
        )
        .orderBy("shard_id")
    )


def a_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attribution range join: for each purchase, the same-user events
    inside its trailing 30-minute window, counted per purchase. Executed
    as a bucketed interval join (operators/rangejoin.py) — equi-join on
    (30-min bucket, user), never a nested-loop theta join. Purchases
    with no prior-window events are absent (inner-join semantics,
    mirrored by the oracle)."""
    from andb_spark.operators.rangejoin import bucketed_interval_join

    tune_for_session(spark)
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        (F.col("ts") - F.expr("INTERVAL 30 MINUTES")).alias("w_start"),
        F.col("ts").alias("w_end"),
    )
    others = ev.filter(F.col("event_type") != "purchase").select(
        "event_id", "user_id", "event_type", "ts"
    )
    joined = bucketed_interval_join(
        others, purchases, "ts", "w_start", "w_end",
        keys=("user_id",), bucket_seconds=1800,
    )
    return (
        joined.groupBy("purchase_id", "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_prior_events"),
            F.sum(
                F.when(F.col("event_type") == "click", 1).otherwise(0)
            ).alias("n_clicks"),
        )
        .orderBy("purchase_id")
    )


# ----------------------------------------------------------- as-of join --
def a_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each event joined to the user's most recent order as of the event
    time (operators/asof.py — union+window, one shuffle)."""
    tune_for_session(spark)
    events = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    orders = load_table(spark, sf_dir, "orders")
    out = asof_join(
        events,
        orders,
        left_on="user_id",
        right_on="o_custkey",
        left_time="ts",
        right_time="o_orderdate",
        payload_cols=["o_orderkey", "o_totalprice"],
        right_tiebreak="o_orderkey",
    )
    # No trailing global sort: the output is fact-table-sized (one row
    # per event), a full range-exchange would dominate the query at
    # scale, and the driver's correctness compare is order-insensitive.
    return out.select("event_id", "user_id", "o_orderkey", "o_totalprice")


def a_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest as-of (operators/asof.py direction='nearest' — both
    time walks over ONE key exchange, per-probe choice by smaller
    |gap|, equal-gap ties to the backward side = pandas merge_asof
    parity): each purchase joined to the user's click closest in time,
    before OR after. The sensor-alignment/attribution question a
    backward-only as-of answers wrong when the nearest signal is just
    ahead. Oracle: DuckDB LATERAL argmin over |gap| with the same
    backward tie preference."""
    tune_for_session(spark)
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", F.unix_micros("ts").alias("t_us")
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        "user_id",
        F.unix_micros("ts").alias("c_us"),
    )
    out = asof_join(
        purchases,
        clicks,
        left_on="user_id",
        right_on="user_id",
        left_time="t_us",
        right_time="c_us",
        payload_cols=["click_id"],
        direction="nearest",
        right_tiebreak="click_id",
    )
    return out.select("event_id", "user_id", "click_id")


def a_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of: each event joined to the user's NEXT order at or
    after the event time (operators/asof.py direction='forward' — the
    time-mirrored one-shuffle union+window walk; was a
    NotImplementedError through r4). The attribution-style question
    'which order did this session lead to'."""
    tune_for_session(spark)
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts"
    )
    orders = load_table(spark, sf_dir, "orders")
    out = asof_join(
        events,
        orders,
        left_on="user_id",
        right_on="o_custkey",
        left_time="ts",
        right_time="o_orderdate",
        payload_cols=["o_orderkey", "o_totalprice"],
        direction="forward",
        right_tiebreak="o_orderkey",
    )
    # No trailing global sort (same rationale as a_asof_join).
    return out.select("event_id", "user_id", "o_orderkey", "o_totalprice")


def a_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of WITH tolerance (operators/asof.py:125-146, the
    merge_asof `tolerance=` semantics): each purchase event joined to
    the same user's most recent click, but only if it happened within
    the trailing hour — older matches are masked back to NULL rather
    than dropped (attribution with a freshness cutoff). Times go
    through the epoch-seconds floor on BOTH sides (timestamp→long cast
    here, date_diff('second') in the oracle) so the gap comparison is
    exact integer arithmetic, not float. Same one-shuffle union+window
    plan as the untolerated join — the mask is a window-local column,
    no extra exchange."""
    tune_for_session(spark)
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", F.col("ts").cast("long").alias("ts_s")
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("event_id").alias("click_id"),
        F.col("ts").cast("long").alias("click_ts_s"),
    )
    out = asof_join(
        purchases,
        clicks,
        left_on="user_id",
        right_on="user_id",
        left_time="ts_s",
        right_time="click_ts_s",
        payload_cols=["click_id", "click_ts_s"],
        direction="backward",
        right_tiebreak="click_id",
        tolerance=3600,
    )
    # No trailing global sort (same rationale as a_asof_join).
    return out.select(
        "event_id",
        "user_id",
        "click_id",
        (F.col("ts_s") - F.col("click_ts_s")).alias("gap_s"),
    )


# ----------------------------------------------------------- multimodal --
def m_binary_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary payload column plumbing: byte length + checksum + head
    bytes — the typed-metadata shape of a multimodal ingest table."""
    d = _docs(spark, sf_dir)
    b = binarize(d, "text", "doc_id")
    return b.select(
        "doc_id",
        F.col("n_bytes").cast("bigint").alias("n_bytes"),
        "checksum",
        F.lower(F.hex(F.substring(F.col("payload"), 1, 4))).alias("head_hex"),
    ).orderBy("doc_id")


def m_image_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL header parse over real payloads: synthesize one true 24-bit
    BMP per doc (operators/multimodal.py::synthesize_image_corpus),
    then run the real mapInPandas metadata stage (fake=False). The
    oracle restates the BMP layout in closed form — n_bytes = 54-byte
    header + height x 4-aligned stride — so a header-parse bug cannot
    pass. BMP-only synthesis on purpose: a zlib-compressed PNG's
    n_bytes is deterministic but not SQL-expressible, so the codec
    rotation lives in m_image_decode (whose oracle states pixel sums,
    codec-independent) and this row keeps the byte-exact layout check.
    Bounded slice (doc_id < 400) keeps the per-row Python synthesis
    off the corpus hot path, as in m_image_decode."""
    d = _docs(spark, sf_dir).filter(F.col("doc_id") < 400)
    return extract_image_meta(
        synthesize_image_corpus(d, formats=("bmp",)), fake=False
    ).orderBy("doc_id")


def m_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL resize round trip, oracle-graded end-to-end (VERDICT r4
    #2 — the last fake=True registry row made real): synthesize one
    true 24-bit BMP per doc, run the real decode→nearest-neighbor-
    downscale→PPM re-encode stage (operators/multimodal.py::
    resize_payloads), then REAL-decode the resized payloads back to
    pixel sums. max_side=8 sits inside the synthesized 4–16 px
    dimension range so both branches execute (downscale AND the
    small-image pass-through). The oracle restates the whole chain in
    closed form — geometry via the same IEEE least/floor arithmetic,
    sum_px via the nearest-neighbor index sums — so a stride, row
    order, index-gather, or re-encode bug cannot pass. Bounded slice
    (doc_id < 400) as in m_image_decode."""
    d = _docs(spark, sf_dir).filter(F.col("doc_id") < 400)
    resized = resize_payloads(synthesize_image_corpus(d), max_side=8)
    return image_pixel_stats(resized.select("doc_id", "payload")).orderBy(
        "doc_id"
    )


def m_audio_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio-modality twin of m_image_meta, on the REAL RIFF/WAVE
    parse: one true PCM-16 WAV per doc, metadata extracted by the real
    chunk walk (fake=False). n_bytes/duration_ms/n_samples all have
    closed forms in doc_id the oracle states without touching a byte
    (44-byte canonical header + frames x channels x 2)."""
    d = _docs(spark, sf_dir).filter(F.col("doc_id") < 400)
    return extract_audio_meta(
        synthesize_audio_corpus(d), fake=False
    ).orderBy("doc_id")


def m_image_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal → vector bridge on REAL pixels: synthesize one true
    24-bit BMP per doc, run the real decode → integer-pixel-moment
    feature extractor (operators/multimodal.py::embed_image_pixels).
    The moments are the embedding (pixel_embedding_expr turns them
    into the array<double> the ANN operators consume, Catalyst-side);
    the graded output stays all-scalar int64 — the r5 lesson: an
    array-typed column crashes the driver's pandas canonicalizer, so
    no oracle row may emit array/map/struct (enforced by the
    complex-type lint in tools/compare.py). The oracle restates each
    moment in closed form from the corpus construction — a stride,
    row-order, swizzle, or overflow bug in the real decode cannot
    pass."""
    d = _docs(spark, sf_dir).filter(F.col("doc_id") < 400)
    return embed_image_pixels(synthesize_image_corpus(d)).orderBy("doc_id")


def m_embed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal → ANN end-to-end: real BMP decode → pixel-moment
    embedding (pixel_embedding_expr's array<double>) → cosine top-5
    per probe image. The whole bridge graded in one row: a bug in the
    decode, the moment math, the Catalyst normalization, or the
    cosine ranking breaks it. Probes are O(1) and broadcast; the
    candidate side is one scan — the filtered-brute-force shape.
    (At corpus scale the ranking tail swaps to the TakeOrdered tower
    of v_knn_join; the decode→embed stages are unchanged.) Scores
    round to 6 dp with doc_id tiebreak, the registry-wide float
    convention. The oracle recomputes the embedding from the corpus'
    closed-form integer moments and states the same left-associative
    dot/norm arithmetic, so both engines run identical IEEE ops."""
    from pyspark.sql import Window

    from andb_spark.functions.vector import cosine_similarity

    d = _docs(spark, sf_dir).filter(F.col("doc_id") < 400)
    # persist: probes and candidates branch from the same lineage, and
    # the doc_id<3 probe filter cannot push through mapInPandas — an
    # uncached split would run the Python decode+embed stage twice
    emb = DD._persist_tracked(
        embed_image_pixels(synthesize_image_corpus(d)).select(
            "doc_id", pixel_embedding_expr().alias("emb")
        )
    )
    probes = emb.filter(F.col("doc_id") < 3).select(
        F.col("doc_id").alias("probe_id"), F.col("emb").alias("probe_emb")
    )
    scored = (
        emb.filter(F.col("doc_id") >= 3)
        .crossJoin(F.broadcast(probes))
        .select(
            "probe_id",
            "doc_id",
            F.round(
                cosine_similarity(F.col("emb"), F.col("probe_emb")), 6
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.col("cos_sim").desc(), F.col("doc_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5)
        .select("probe_id", "rnk", "doc_id", "cos_sim")
        .orderBy("probe_id", "rnk")
    )


def m_image_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode, oracle-graded: synthesize one true image per
    doc rotating ALL THREE real codecs — BMP (stride padding,
    bottom-up rows, BGR swizzle), PPM, and PNG, the compressed DEFLATE
    path (stdlib zlib + numpy unfiltering; README 'Multimodal codec
    boundary') — with dimensions + pixels closed-form in doc_id
    (operators/multimodal.py::synthesize_image_corpus), then run the
    real header parse AND full pixel-raster decode. The oracle states
    format/width/height/sum_px from the closed forms without touching
    a byte — a decoder bug in any of the three codecs cannot pass.
    Bounded slice: payload synthesis is per-row Python; 400 docs prove
    the codecs while keeping the Python stage off the corpus hot path."""
    d = _docs(spark, sf_dir).filter(F.col("doc_id") < 400)
    return image_pixel_stats(synthesize_image_corpus(d)).orderBy("doc_id")


def m_audio_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode, oracle-graded: one true PCM-16 WAV per doc
    (rate/channels/frames/amplitude closed-form in doc_id), decoded by
    the real RIFF chunk walk + sample read. first_amp_q proves the
    int16→float→int16 scale path exactly."""
    d = _docs(spark, sf_dir).filter(F.col("doc_id") < 400)
    return audio_sample_stats(synthesize_audio_corpus(d)).orderBy("doc_id")


def m_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1→N frame sampling over binary payloads (mapInPandas fan-out)."""
    d = _docs(spark, sf_dir).filter(F.col("doc_id") < 200)
    return sample_frames(binarize(d, "text", "doc_id"), max_frames=4).orderBy(
        "doc_id", "frame_idx"
    )


QUERIES = {
    "d_exact_dup_groups": d_exact_dup_groups,
    "d_exact_dedup": d_exact_dedup,
    "d_fingerprint_dup_groups": d_fingerprint_dup_groups,
    "d_minhash_lsh": d_minhash_lsh,
    "d_ngram_jaccard": d_ngram_jaccard,
    "d_dup_components": d_dup_components,
    "d_dedup_survivors": d_dedup_survivors,
    "d_simhash": d_simhash,
    "d_simhash_pairs": d_simhash_pairs,
    "d_decontaminate": d_decontaminate,
    "d_cross_source_dups": d_cross_source_dups,
    "d_incremental_dedup": d_incremental_dedup,
    "d_bloom_dedup": d_bloom_dedup,
    "d_bloom_bound": d_bloom_bound,
    "d_incremental_minhash": d_incremental_minhash,
    "d_repeated_passages": d_repeated_passages,
    "d_passage_scrub": d_passage_scrub,
    "d_lsh_recall_audit": d_lsh_recall_audit,
    "t_token_stats": t_token_stats,
    "t_lang_quality": t_lang_quality,
    "t_fingerprint": t_fingerprint,
    "t_lang_ngram": t_lang_ngram,
    "t_rolling_fingerprint": t_rolling_fingerprint,
    "t_repetition": t_repetition,
    "t_boilerplate": t_boilerplate,
    "t_entropy": t_entropy,
    "t_source_stats": t_source_stats,
    "t_bpe_tokens": t_bpe_tokens,
    "t_pii_scrub": t_pii_scrub,
    "t_heavy_hitters": t_heavy_hitters,
    "t_chunking": t_chunking,
    "t_dup_rate_report": t_dup_rate_report,
    "t_approx_topk": t_approx_topk,
    "t_approx_topk_bound": t_approx_topk_bound,
    "t_tfidf": t_tfidf,
    "t_bm25_topk": t_bm25_topk,
    "t_length_histogram": t_length_histogram,
    "p_quality_filter": p_quality_filter,
    "p_sample_hash": p_sample_hash,
    "p_sample_stratified": p_sample_stratified,
    "p_source_cap": p_source_cap,
    "p_sample_weighted": p_sample_weighted,
    "p_mixture_plan": p_mixture_plan,
    "p_split": p_split,
    "p_pack_shards": p_pack_shards,
    "p_pipeline_e2e": p_pipeline_e2e,
    "a_asof_join": a_asof_join,
    "a_asof_forward": a_asof_forward,
    "a_asof_nearest": a_asof_nearest,
    "a_asof_tolerance": a_asof_tolerance,
    "a_range_join": a_range_join,
    "m_binary_meta": m_binary_meta,
    "m_image_meta": m_image_meta,
    "m_audio_meta": m_audio_meta,
    "m_image_decode": m_image_decode,
    "m_audio_decode": m_audio_decode,
    "m_resize": m_resize,
    "m_image_embed": m_image_embed,
    "m_embed_topk": m_embed_topk,
    "m_frame_sample": m_frame_sample,
}


# BM25 oracle scoring as a reusable CTE bundle (w → tf → s → bm):
# the DuckDB twin of ``bm25_scores`` (same terms, k1=1.2, b=0.75;
# tf*2.2 == tf*(k1+1), 6-dp rounding). The ONE source of truth —
# interpolated into the t_bm25_topk oracle here and the v_hybrid_rrf
# oracle in vectors.py, so a formula change cannot silently diverge
# between the lexical and hybrid retrieval rows.
BM25_ORACLE_CTE = f"""
        w AS (
            SELECT doc_id, {_WORDS.format(col='lower(text)')} AS w
            FROM documents
        ),
        tf AS (
            SELECT doc_id, len(w) AS dl,
                   len(list_filter(w, x -> x = 'spark'))  AS tf0,
                   len(list_filter(w, x -> x = 'vector')) AS tf1,
                   len(list_filter(w, x -> x = 'stream')) AS tf2
            FROM w
        ),
        s AS (
            SELECT count(*) AS n_docs, avg(dl) AS avgdl,
                   sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS df0,
                   sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1,
                   sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS df2
            FROM tf
        ),
        bm AS (
            SELECT doc_id, round(
                ln(1.0 + (n_docs - df0 + 0.5) / (df0 + 0.5))
                  * (tf0 * 2.2) / (tf0 + 1.2 * (0.25 + 0.75 * dl / avgdl))
              + ln(1.0 + (n_docs - df1 + 0.5) / (df1 + 0.5))
                  * (tf1 * 2.2) / (tf1 + 1.2 * (0.25 + 0.75 * dl / avgdl))
              + ln(1.0 + (n_docs - df2 + 0.5) / (df2 + 0.5))
                  * (tf2 * 2.2) / (tf2 + 1.2 * (0.25 + 0.75 * dl / avgdl)),
              6) AS bm25
            FROM tf, s
        )
"""

_FP = (
    "md5(array_to_string(list_sort(list_distinct("
    + _WORDS.format(col="lower(text)")
    + ")), ' '))"
)

# The MinHash-LSH definition of operators/dedup.py restated for DuckDB
# over an ``sh`` (doc_id, shingle) CTE: the base hash x of a shingle,
# signature slot h = min((a_h * x + b_h) % (2^31 - 1)) with dedup.py's
# constants, and 2-row bands hashed as the md5 of the slots' decimal
# text joined by '|'.
_BASE_HASH = (
    f"('0x' || substr(md5({{col}}), 1, {DD.BASE_HASH_HEX_DIGITS}))::BIGINT"
)
_LSH_BANDS = f"""
        mh AS (
            SELECT doc_id, h, min((a * x + b) % {DD.MERSENNE_31}) AS min_hash
            FROM (SELECT doc_id, {_BASE_HASH.format(col='shingle')} AS x
                  FROM sh) s,
                 (VALUES {", ".join(
                     f"({h}, {a}, {b})"
                     for h, (a, b) in enumerate(DD.minhash_permutations(8))
                 )}) hs(h, a, b)
            GROUP BY doc_id, h
        ),
        bands AS (
            SELECT doc_id, CAST(h // 2 AS INT) AS band,
                   md5(string_agg(CAST(min_hash AS VARCHAR), '|' ORDER BY h))
                       AS band_sig
            FROM mh GROUP BY doc_id, band
        )"""

# Rabin-Karp rolling hash twin of functions/text.py::rolling_hash —
# same fold, same md5-derived 32-bit token values, same Mersenne mod.
_RH = (
    "list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform("
    + _WORDS.format(col="lower(text)")
    + ", x -> CAST('0x' || substr(md5(x), 1, 8) AS BIGINT))),"
    " (acc, h) -> (acc * 31 + h) % 2147483647)"
)

# Frequent-English-bigram density twin of functions/text.py::ngram_density.
_NGRAM_TERMS = " + ".join(
    f"(length(t) - length(replace(t, '{g}', ''))) / 2"
    for g in ("th", "he", "in", "er", "an", "re", "on", "at", "en", "nd")
)
# Shared closed-form pixel-moment prefix for the synthesized BMP corpus
# (operators/multimodal.py::synthesize_image_corpus): geometry g,
# partial sums s, and the seven integer moments m. BOTH multimodal
# embedding oracles (m_image_embed, m_embed_topk) build on this one
# definition — the r5 m_resize lesson: duplicated oracle arithmetic
# means a fix lands in one copy and the other row silently grades
# against a stale oracle.
PIXEL_MOMENTS_CTE = """
        WITH g AS (
            SELECT doc_id, doc_id % 200 AS b,
                   4 + doc_id % 13 AS w, 3 + doc_id % 11 AS h
            FROM documents WHERE doc_id < 400),
        s AS (
            SELECT *,
                   (h * (h - 1)) // 2 AS sh,
                   ((h - 1) * h * (2 * h - 1)) // 6 AS qh,
                   (w * (w - 1)) // 2 AS sw,
                   ((w - 1) * w * (2 * w - 1)) // 6 AS qw
            FROM g),
        m AS (
            SELECT doc_id,
                   3 * (h * w * b + w * sh + h * sw) AS sum_px,
                   3 * (h * w * b * b + w * qh + h * qw
                        + 2 * b * w * sh + 2 * b * h * sw
                        + 2 * sh * sw) AS sumsq_px,
                   3 * (w * b * sh + w * qh + sh * sw) AS row_mom,
                   3 * (h * b * sw + h * qw + sh * sw) AS col_mom,
                   b AS min_px,
                   b + h - 1 + w - 1 AS max_px,
                   b + (h - 1) // 2 + (w - 1) // 2 AS center_px
            FROM s)"""


ORACLES = {
    # Sketch invariant wrapper: the Spark side computes exact booleans
    # (counts exact, top-tier membership, k items) over its own
    # tokenization; the oracle pins the expected all-TRUE row.
    "t_approx_topk_bound": """
        SELECT TRUE AS counts_exact, TRUE AS covers_top_tier,
               TRUE AS k_items
    """,
    "d_exact_dup_groups": """
        SELECT md5(text) AS text_hash, count(*) AS n_dups, min(doc_id) AS keep_id
        FROM documents GROUP BY 1 HAVING count(*) > 1 ORDER BY text_hash
    """,
    "d_exact_dedup": """
        SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)
        ORDER BY doc_id
    """,
    "d_fingerprint_dup_groups": f"""
        SELECT fp, count(*) AS n_dups, min(doc_id) AS keep_id FROM (
            SELECT doc_id, {_FP} AS fp FROM documents
        ) t GROUP BY fp HAVING count(*) > 1 ORDER BY fp
    """,
    "d_minhash_lsh": f"""
        WITH docs AS (
            SELECT doc_id, {_SHINGLES} AS sh
            FROM (SELECT doc_id, {_WORDS.format(col='text')} AS w FROM documents)
        ),
        sh AS (SELECT doc_id, unnest(sh) AS shingle FROM docs),
{_LSH_BANDS},
        cand AS (
            SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
            FROM bands a JOIN bands b
              ON a.band = b.band AND a.band_sig = b.band_sig
            WHERE a.doc_id < b.doc_id
        ),
        sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        inter AS (
            SELECT c.id_a, c.id_b, count(*) AS n_inter
            FROM cand c
            JOIN sh a ON a.doc_id = c.id_a
            JOIN sh b ON b.doc_id = c.id_b AND b.shingle = a.shingle
            GROUP BY 1, 2
        )
        SELECT i.id_a, i.id_b,
               round(CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter), 6) AS jaccard
        FROM inter i JOIN sizes sa ON sa.doc_id = i.id_a
                     JOIN sizes sb ON sb.doc_id = i.id_b
        WHERE round(CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter), 6) >= 0.5
        ORDER BY id_a, id_b
    """,
    "d_ngram_jaccard": f"""
        WITH docs AS (
            SELECT doc_id, {_SHINGLES} AS sh
            FROM (SELECT doc_id, {_WORDS.format(col='text')} AS w
                  FROM documents WHERE doc_id < 300)
        ),
        sh AS (SELECT doc_id, unnest(sh) AS shingle FROM docs),
        sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        inter AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
            FROM sh a JOIN sh b USING (shingle)
            WHERE a.doc_id < b.doc_id
            GROUP BY 1, 2
        )
        SELECT i.id_a, i.id_b,
               round(CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter), 6) AS jaccard
        FROM inter i JOIN sizes sa ON sa.doc_id = i.id_a
                     JOIN sizes sb ON sb.doc_id = i.id_b
        WHERE round(CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter), 6) >= 0.3
        ORDER BY id_a, id_b
    """,
    "d_dup_components": f"""
        WITH RECURSIVE docs AS (
            SELECT doc_id, {_SHINGLES} AS sh
            FROM (SELECT doc_id, {_WORDS.format(col='text')} AS w
                  FROM documents WHERE doc_id < 300)
        ),
        sh AS (SELECT doc_id, unnest(sh) AS shingle FROM docs),
        sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        inter AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
            FROM sh a JOIN sh b USING (shingle)
            WHERE a.doc_id < b.doc_id
            GROUP BY 1, 2
        ),
        pairs AS (
            SELECT i.id_a, i.id_b
            FROM inter i JOIN sizes sa ON sa.doc_id = i.id_a
                         JOIN sizes sb ON sb.doc_id = i.id_b
            WHERE round(CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter), 6)
                  >= 0.3
        ),
        edges AS (
            SELECT id_a AS src, id_b AS dst FROM pairs
            UNION ALL
            SELECT id_b, id_a FROM pairs
        ),
        reach(id, r) AS (
            SELECT DISTINCT src, src FROM edges
            UNION
            SELECT e.dst, reach.r FROM edges e JOIN reach ON e.src = reach.id
        )
        SELECT id AS doc_id, min(r) AS component_id
        FROM reach GROUP BY id ORDER BY doc_id
    """,
    "d_dedup_survivors": f"""
        WITH RECURSIVE docs AS (
            SELECT doc_id, {_SHINGLES} AS sh
            FROM (SELECT doc_id, {_WORDS.format(col='text')} AS w
                  FROM documents WHERE doc_id < 300)
        ),
        sh AS (SELECT doc_id, unnest(sh) AS shingle FROM docs),
        sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        inter AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
            FROM sh a JOIN sh b USING (shingle)
            WHERE a.doc_id < b.doc_id
            GROUP BY 1, 2
        ),
        pairs AS (
            SELECT i.id_a, i.id_b
            FROM inter i JOIN sizes sa ON sa.doc_id = i.id_a
                         JOIN sizes sb ON sb.doc_id = i.id_b
            WHERE round(CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter), 6)
                  >= 0.3
        ),
        edges AS (
            SELECT id_a AS src, id_b AS dst FROM pairs
            UNION ALL
            SELECT id_b, id_a FROM pairs
        ),
        reach(id, r) AS (
            SELECT DISTINCT src, src FROM edges
            UNION
            SELECT e.dst, reach.r FROM edges e JOIN reach ON e.src = reach.id
        ),
        comp AS (SELECT id, min(r) AS cid FROM reach GROUP BY id)
        SELECT doc_id FROM documents
        WHERE doc_id < 300
          AND doc_id NOT IN (SELECT id FROM comp WHERE id <> cid)
        ORDER BY doc_id
    """,
    "d_simhash": """
        WITH toks AS (
            SELECT doc_id, md5(unnest(list_filter(
                regexp_split_to_array(lower(text), '\\s+'), x -> x <> ''))) AS th
            FROM documents WHERE doc_id < 300
        ),
        bits AS (
            SELECT doc_id, j,
                   CASE WHEN sum(CASE WHEN CAST(floor(
                       (strpos('0123456789abcdef',
                               substr(th, CAST(j // 4 AS INT) + 1, 1)) - 1)
                       / (CASE j % 4 WHEN 0 THEN 8 WHEN 1 THEN 4
                                     WHEN 2 THEN 2 ELSE 1 END)) AS INT) % 2 = 1
                        THEN 1 ELSE -1 END) > 0
                   THEN 1 ELSE 0 END AS b
            FROM toks, (SELECT unnest(range(0, 16)) AS j) js
            GROUP BY doc_id, j
        )
        SELECT doc_id,
               CAST(sum(b * CAST(pow(2, 15 - j) AS BIGINT)) AS BIGINT) AS simhash
        FROM bits GROUP BY doc_id ORDER BY doc_id
    """,
    "d_simhash_pairs": """
        WITH toks AS (
            SELECT doc_id, md5(unnest(list_filter(
                regexp_split_to_array(lower(text), '\\s+'), x -> x <> ''))) AS th
            FROM documents WHERE doc_id < 300
        ),
        bits AS (
            SELECT doc_id, j,
                   CASE WHEN sum(CASE WHEN CAST(floor(
                       (strpos('0123456789abcdef',
                               substr(th, CAST(j // 4 AS INT) + 1, 1)) - 1)
                       / (CASE j % 4 WHEN 0 THEN 8 WHEN 1 THEN 4
                                     WHEN 2 THEN 2 ELSE 1 END)) AS INT) % 2 = 1
                        THEN 1 ELSE -1 END) > 0
                   THEN 1 ELSE 0 END AS b
            FROM toks, (SELECT unnest(range(0, 16)) AS j) js
            GROUP BY doc_id, j
        ),
        sh AS (
            SELECT doc_id,
                   CAST(sum(b * CAST(pow(2, 15 - j) AS BIGINT)) AS BIGINT)
                       AS simhash
            FROM bits GROUP BY doc_id
        ),
        bands AS (
            SELECT doc_id, simhash, bnd,
                   (simhash // CAST(pow(16, bnd) AS BIGINT)) % 16 AS band_val
            FROM sh, (SELECT unnest(range(0, 4)) AS bnd) bs
        ),
        cand AS (
            SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                   a.simhash AS sh_a, b.simhash AS sh_b
            FROM bands a JOIN bands b
              ON a.bnd = b.bnd AND a.band_val = b.band_val
            WHERE a.doc_id < b.doc_id
        )
        SELECT id_a, id_b,
               CAST(bit_count(xor(sh_a, sh_b)) AS INT) AS hamming
        FROM cand
        WHERE bit_count(xor(sh_a, sh_b)) <= 2
        ORDER BY id_a, id_b
    """,
    "t_token_stats": f"""
        SELECT doc_id,
               CAST(len(w) AS BIGINT) AS n_tokens,
               CAST(len(list_distinct(w)) AS BIGINT) AS n_unique,
               round(list_sum(list_transform(w, x -> CAST(len(x) AS DOUBLE)))
                     / len(w), 6) AS avg_tok_len
        FROM (SELECT doc_id, {_WORDS.format(col='text')} AS w FROM documents)
        ORDER BY doc_id
    """,
    "t_lang_quality": f"""
        WITH base AS (
            SELECT doc_id, text, {_WORDS.format(col='lower(text)')} AS w
            FROM documents
        ),
        m AS (
            SELECT doc_id, text,
                   CAST(len(list_filter(w, x -> list_contains(
                       ['the','a','of','and','to','in','is','it','on','for'], x)))
                       AS DOUBLE) / len(w) AS swr,
                   CAST(length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g'))
                       AS DOUBLE) / length(text) AS pr,
                   list_sum(list_transform(w, x -> CAST(len(x) AS DOUBLE)))
                       / len(w) AS awl
            FROM base
        )
        SELECT doc_id,
               CASE WHEN swr >= 0.03 THEN 'en' ELSE 'other' END AS lang_pred,
               round(swr, 6) AS stopword_ratio,
               round(pr, 6) AS punct_ratio,
               round(least(swr * 4.0, 1.0) * 0.5
                     + (1.0 - least(pr * 10.0, 1.0)) * 0.3
                     + CASE WHEN awl >= 3.0 AND awl <= 8.0
                            THEN 0.2 ELSE 0.0 END, 6) AS quality
        FROM m ORDER BY doc_id
    """,
    "t_fingerprint": f"""
        SELECT doc_id, {_FP} AS fp FROM documents ORDER BY doc_id
    """,
    "t_lang_ngram": f"""
        WITH d AS (SELECT doc_id, lower(text) AS t FROM documents),
        s AS (SELECT doc_id, ({_NGRAM_TERMS}) / length(t) AS nd FROM d)
        SELECT doc_id, round(nd, 6) AS ngram_density,
               CASE WHEN nd >= 0.08 THEN 'en' ELSE 'other' END AS lang_ngram
        FROM s ORDER BY doc_id
    """,
    "t_rolling_fingerprint": f"""
        SELECT doc_id, {_RH} AS rh, {_FP} AS fp
        FROM documents ORDER BY doc_id
    """,
    "t_repetition": f"""
        WITH base AS (
            SELECT doc_id, {_WORDS.format(col='lower(text)')} AS w
            FROM documents
        ),
        bg AS (
            SELECT doc_id, w,
                   list_transform(range(1, len(w)),
                                  i -> w[i] || ' ' || w[i + 1]) AS b
            FROM base
        ),
        m AS (
            SELECT doc_id,
                   CAST(len(w) AS BIGINT) AS n_tokens,
                   round(1.0 - CAST(len(list_distinct(w)) AS DOUBLE)
                         / len(w), 6) AS dup_token_frac,
                   round(CAST(list_max(list_transform(list_distinct(w),
                             t -> len(list_filter(w, x -> x = t))))
                         AS DOUBLE) / len(w), 6) AS top_token_frac,
                   round(CAST(list_max(list_transform(list_distinct(b),
                             t -> len(list_filter(b, x -> x = t))))
                         AS DOUBLE) / len(b), 6) AS top_bigram_frac
            FROM bg
        )
        SELECT doc_id, n_tokens, dup_token_frac, top_token_frac,
               top_bigram_frac,
               CAST(top_token_frac >= 0.15 OR top_bigram_frac >= 0.08
                    AS INT) AS flagged
        FROM m
    """,
    "t_entropy": f"""
        SELECT doc_id,
               CAST(len(w) AS BIGINT) AS n_tokens,
               round(-list_sum(list_transform(list_distinct(w),
                   t -> (CAST(len(list_filter(w, x -> x = t)) AS DOUBLE)
                         / len(w))
                        * ln(CAST(len(list_filter(w, x -> x = t)) AS DOUBLE)
                             / len(w)))), 6) AS entropy
        FROM (SELECT doc_id, {_WORDS.format(col='lower(text)')} AS w
              FROM documents)
    """,
    "t_boilerplate": f"""
        SELECT source,
               array_to_string(w[1:2], ' ') AS prefix2,
               count(*) AS n_docs
        FROM (SELECT source, {_WORDS.format(col='lower(text)')} AS w
              FROM documents)
        GROUP BY 1, 2 HAVING count(*) >= 2
        ORDER BY source, prefix2
    """,
    "t_source_stats": f"""
        SELECT source, count(*) AS n_docs,
               count(DISTINCT md5(text)) AS n_unique_texts,
               CAST(sum(len({_WORDS.format(col='text')})) AS BIGINT) AS total_tokens,
               round(avg(n_chars), 6) AS avg_chars
        FROM documents GROUP BY source ORDER BY source
    """,
    "t_bpe_tokens": f"""
        WITH b AS (
            SELECT doc_id,
                   regexp_extract_all(lower(text),
                       '[a-z]+|[0-9]+|[^a-z0-9\\s]+') AS bt,
                   len({_WORDS.format(col='text')}) AS nw
            FROM documents
        )
        SELECT doc_id,
               CAST(len(bt) AS BIGINT) AS n_bpe,
               CAST(len(list_filter(bt, x -> regexp_full_match(x, '[a-z]+')))
                    AS BIGINT) AS n_alpha,
               CAST(len(list_filter(bt, x -> regexp_full_match(x, '[0-9]+')))
                    AS BIGINT) AS n_num,
               CAST(len(bt)
                    - len(list_filter(bt, x -> regexp_full_match(x, '[a-z]+')))
                    - len(list_filter(bt, x -> regexp_full_match(x, '[0-9]+')))
                    AS BIGINT) AS n_punct,
               round(CAST(len(bt) AS DOUBLE) / nw, 6) AS fertility
        FROM b ORDER BY doc_id
    """,
    "d_incremental_dedup": """
        SELECT doc_id FROM documents
        WHERE doc_id >= 400
          AND md5(text) NOT IN (
              SELECT md5(text) FROM documents WHERE doc_id < 400)
        ORDER BY doc_id
    """,
    "d_incremental_minhash": f"""
        WITH docs AS (
            SELECT doc_id, {_SHINGLES} AS sh
            FROM (SELECT doc_id, {_WORDS.format(col='text')} AS w FROM documents)
        ),
        sh AS (SELECT doc_id, unnest(sh) AS shingle FROM docs),
{_LSH_BANDS},
        cand AS (
            SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
            FROM bands a JOIN bands b
              ON a.band = b.band AND a.band_sig = b.band_sig
            WHERE a.doc_id < 400 AND b.doc_id >= 400
        ),
        sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        inter AS (
            SELECT c.id_a, c.id_b, count(*) AS n_inter
            FROM cand c
            JOIN sh a ON a.doc_id = c.id_a
            JOIN sh b ON b.doc_id = c.id_b AND b.shingle = a.shingle
            GROUP BY 1, 2
        )
        SELECT i.id_a, i.id_b,
               round(CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter), 6) AS jaccard
        FROM inter i JOIN sizes sa ON sa.doc_id = i.id_a
                     JOIN sizes sb ON sb.doc_id = i.id_b
        WHERE round(CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter), 6) >= 0.5
        ORDER BY id_a, id_b
    """,
    "d_lsh_recall_audit": f"""
        WITH docs0 AS (
            SELECT doc_id, {_SHINGLES} AS sh
            FROM (SELECT doc_id, {_WORDS.format(col='text')} AS w
                  FROM documents)
        ),
        docs AS (
            SELECT doc_id, sh FROM docs0
            WHERE list_min(list_transform(sh, s -> {_BASE_HASH.format(col='s')}))
                  < {_AUDIT_BUCKET}
        ),
        sh AS (SELECT doc_id, unnest(sh) AS shingle FROM docs),
        sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        exact_inter AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
            FROM sh a JOIN sh b
              ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        ),
        exact AS (
            SELECT id_a, id_b FROM exact_inter i
            JOIN sizes sa ON sa.doc_id = i.id_a
            JOIN sizes sb ON sb.doc_id = i.id_b
            WHERE round(CAST(n_inter AS DOUBLE)
                        / (sa.n + sb.n - n_inter), 6) >= 0.5
        ),
{_LSH_BANDS},
        cand AS (
            SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
            FROM bands a JOIN bands b
              ON a.band = b.band AND a.band_sig = b.band_sig
            WHERE a.doc_id < b.doc_id
        ),
        hit AS (SELECT e.id_a, e.id_b FROM exact e
                JOIN cand c USING (id_a, id_b))
        SELECT (SELECT count(*) FROM exact) AS n_exact,
               (SELECT count(*) FROM cand) AS n_cand,
               (SELECT count(*) FROM hit) AS n_hit,
               round(CAST((SELECT count(*) FROM hit) AS DOUBLE)
                     / nullif((SELECT count(*) FROM exact), 0), 6) AS recall
    """,
    "d_repeated_passages": f"""
        WITH t AS (
            SELECT doc_id, {_WORDS.format(col='text')} AS w FROM documents
        ),
        c AS (
            SELECT doc_id, CAST(i AS INT) AS chunk_idx,
                   md5(array_to_string(list_slice(w, i*16+1, i*16+16), ' '))
                       AS chunk_hash
            FROM t, LATERAL (
                SELECT unnest(range(0, CAST(ceil(len(w)/16.0) AS BIGINT))) AS i
            ) r
        )
        SELECT chunk_hash,
               count(DISTINCT doc_id) AS n_docs,
               count(*) AS n_occurrences,
               CAST(split_part(min(printf('%020d:%09d', doc_id, chunk_idx)),
                               ':', 1) AS BIGINT) AS first_doc,
               CAST(split_part(min(printf('%020d:%09d', doc_id, chunk_idx)),
                               ':', 2) AS INT) AS first_idx
        FROM c GROUP BY chunk_hash HAVING count(*) >= 2
        ORDER BY chunk_hash
    """,
    "d_passage_scrub": f"""
        WITH t AS (
            SELECT doc_id, {_WORDS.format(col='text')} AS w FROM documents
        ),
        c AS (
            SELECT doc_id, CAST(i AS INT) AS chunk_idx,
                   array_to_string(list_slice(w, i*16+1, i*16+16), ' ')
                       AS chunk_text
            FROM t, LATERAL (
                SELECT unnest(range(0, CAST(ceil(len(w)/16.0) AS BIGINT))) AS i
            ) r
        ),
        m AS (
            SELECT doc_id, chunk_idx, chunk_text,
                   CASE WHEN row_number() OVER (
                       PARTITION BY md5(chunk_text)
                       ORDER BY doc_id, chunk_idx
                   ) = 1 THEN 1 ELSE 0 END AS keep
            FROM c
        )
        SELECT doc_id,
               CAST(sum(keep) AS BIGINT) AS n_kept,
               CAST(count(*) - sum(keep) AS BIGINT) AS n_dropped,
               md5(string_agg(CASE WHEN keep = 1 THEN chunk_text END,
                              ' ' ORDER BY chunk_idx)) AS scrubbed_hash
        FROM m GROUP BY doc_id HAVING sum(keep) > 0
        ORDER BY doc_id
    """,
    "d_decontaminate": f"""
        WITH g5 AS (
            SELECT doc_id,
                   unnest(list_distinct(list_transform(
                       range(1, greatest(len(w) - 3, 1)),
                       i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                            || ' ' || w[i+3] || ' ' || w[i+4]))) AS g
            FROM (SELECT doc_id, {_WORDS.format(col='text')} AS w
                  FROM documents)
        ),
        ev AS (SELECT DISTINCT g FROM g5 WHERE doc_id < 20)
        SELECT doc_id, count(*) AS n_shared_grams
        FROM g5 JOIN ev USING (g)
        WHERE doc_id >= 20
        GROUP BY doc_id ORDER BY doc_id
    """,
    "d_cross_source_dups": """
        SELECT md5(text) AS text_hash,
               count(DISTINCT source) AS n_sources,
               count(*) AS n_copies,
               array_to_string(list_sort(list_distinct(array_agg(source))), ',')
                   AS sources
        FROM documents GROUP BY 1
        HAVING count(DISTINCT source) > 1 ORDER BY text_hash
    """,
    "t_pii_scrub": """
        SELECT doc_id,
               CAST(len(regexp_extract_all(lower(text),
                   '[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z][a-z]+')) AS BIGINT)
                   AS n_emails,
               CAST(len(regexp_extract_all(lower(text),
                   'https?://[^ \\t\\n]+')) AS BIGINT) AS n_urls,
               md5(regexp_replace(regexp_replace(lower(text),
                   '[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z][a-z]+', '<email>', 'g'),
                   'https?://[^ \\t\\n]+', '<url>', 'g')) AS redacted_hash
        FROM documents ORDER BY doc_id
    """,
    "t_heavy_hitters": f"""
        SELECT token, count(*) AS n FROM (
            SELECT unnest({_WORDS.format(col='lower(text)')}) AS token
            FROM documents
        ) GROUP BY token ORDER BY n DESC, token LIMIT 50
    """,
    "t_dup_rate_report": """
        WITH flagged AS (
            SELECT source,
                   CASE WHEN row_number() OVER (
                       PARTITION BY md5(text) ORDER BY doc_id) > 1
                   THEN 1 ELSE 0 END AS is_dup
            FROM documents
        )
        SELECT source, count(*) AS n_docs,
               CAST(sum(is_dup) AS BIGINT) AS n_dups,
               round(CAST(sum(is_dup) AS DOUBLE) / count(*), 6) AS dup_rate
        FROM flagged GROUP BY source ORDER BY source
    """,
    "t_chunking": f"""
        WITH t AS (
            SELECT doc_id, {_WORDS.format(col='text')} AS w FROM documents
        ),
        c AS (
            SELECT doc_id, CAST(i AS INT) AS chunk_idx,
                   list_slice(w, i*64+1, i*64+64) AS chunk
            FROM t, LATERAL (
                SELECT unnest(range(0, CAST(ceil(len(w)/64.0) AS BIGINT))) AS i
            ) r
        )
        SELECT doc_id, chunk_idx, CAST(len(chunk) AS BIGINT) AS n_tokens,
               md5(array_to_string(chunk, ' ')) AS chunk_hash
        FROM c ORDER BY doc_id, chunk_idx
    """,
    "t_tfidf": f"""
        WITH toks AS (
            SELECT doc_id, unnest({_WORDS.format(col='lower(text)')}) AS term
            FROM documents WHERE doc_id < 50
        ),
        tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
        dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        n AS (SELECT count(*) AS n_docs FROM documents WHERE doc_id < 50),
        scored AS (
            SELECT tf.doc_id, tf.term,
                   tf.tf * (ln((n.n_docs + 1) / CAST(dfreq.df + 1 AS DOUBLE))
                            + 1.0) AS tfidf
            FROM tf JOIN dfreq USING (term), n
        )
        SELECT doc_id, term, round(tfidf, 6) AS tfidf, CAST(rn AS INT) AS rank
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rn
            FROM scored
        ) t WHERE rn <= 3 ORDER BY doc_id, rank
    """,
    "t_bm25_topk": f"""
        WITH {BM25_ORACLE_CTE}
        SELECT doc_id, bm25 FROM bm
        ORDER BY bm25 DESC, doc_id LIMIT 20
    """,
    "t_length_histogram": f"""
        SELECT CAST(floor(n_chars / 100) * 100 AS BIGINT) AS bucket_lo,
               count(*) AS n_docs,
               round(avg(len({_WORDS.format(col='text')})), 6) AS avg_tokens
        FROM documents GROUP BY 1 ORDER BY bucket_lo
    """,
    "p_quality_filter": f"""
        WITH base AS (
            SELECT doc_id, source, text, {_WORDS.format(col='lower(text)')} AS w
            FROM documents
        ),
        m AS (
            SELECT doc_id, source,
                   CAST(len(list_filter(w, x -> list_contains(
                       ['the','a','of','and','to','in','is','it','on','for'], x)))
                       AS DOUBLE) / len(w) AS swr,
                   CAST(length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g'))
                       AS DOUBLE) / length(text) AS pr,
                   list_sum(list_transform(w, x -> CAST(len(x) AS DOUBLE)))
                       / len(w) AS awl
            FROM base
        ),
        scored AS (
            SELECT doc_id, source,
                   least(swr * 4.0, 1.0) * 0.5
                   + (1.0 - least(pr * 10.0, 1.0)) * 0.3
                   + CASE WHEN awl >= 3.0 AND awl <= 8.0
                          THEN 0.2 ELSE 0.0 END AS q
            FROM m
        ),
        med AS (
            SELECT source,
                   percentile_cont(0.5) WITHIN GROUP (ORDER BY q) AS med
            FROM scored GROUP BY source
        )
        SELECT doc_id, scored.source, round(q, 6) AS quality,
               round(med, 6) AS source_median
        FROM scored JOIN med ON med.source = scored.source
        WHERE q > med ORDER BY doc_id
    """,
    "p_sample_hash": """
        SELECT doc_id, source FROM documents
        WHERE substr(md5('s42|' || CAST(doc_id AS VARCHAR)), 1, 4) < '2000'
        ORDER BY doc_id
    """,
    "p_source_cap": """
        WITH capped AS (
            SELECT source, doc_id FROM (
                SELECT source, doc_id, row_number() OVER (
                    PARTITION BY source
                    ORDER BY substr(md5('s42|' || CAST(doc_id AS VARCHAR)), 1, 4),
                             doc_id) AS rn
                FROM documents
            ) t WHERE rn <= 40
        ),
        totals AS (
            SELECT source, count(*) AS n_docs FROM documents GROUP BY source
        ),
        kept AS (
            SELECT source, count(*) AS n_kept FROM capped GROUP BY source
        )
        SELECT t.source, t.n_docs, k.n_kept, t.n_docs - k.n_kept AS n_dropped
        FROM totals t JOIN kept k USING (source)
        ORDER BY t.source
    """,
    "p_sample_stratified": """
        SELECT source, doc_id, CAST(rn AS INT) AS sample_rank FROM (
            SELECT source, doc_id, row_number() OVER (
                PARTITION BY source
                ORDER BY substr(md5('s42|' || CAST(doc_id AS VARCHAR)), 1, 4),
                         doc_id) AS rn
            FROM documents
        ) t WHERE rn <= 5 ORDER BY source, sample_rank
    """,
    "p_sample_weighted": """
        WITH c AS (
            SELECT doc_id, n_chars,
                   sum(n_chars) OVER (ORDER BY doc_id) AS cum,
                   sum(n_chars) OVER () AS total
            FROM documents
        )
        SELECT doc_id, CAST(n_chars AS BIGINT) AS weight
        FROM c
        WHERE ((cum - n_chars) * 64) // total < (cum * 64) // total
        ORDER BY doc_id
    """,
    "p_mixture_plan": """
        WITH s AS (
            SELECT source, CAST(sum(n_chars) AS BIGINT) AS avail,
                   1 + CAST(substr(source, 4) AS INT) % 3 AS w
            FROM documents GROUP BY source
        ),
        t AS (SELECT CAST(sum(avail) AS BIGINT) AS tot_chars,
                     CAST(sum(w) AS BIGINT) AS tot_w FROM s)
        SELECT source, avail,
               round(CAST(w AS DOUBLE) / tot_w, 6) AS target_share,
               round(least(1.0, 0.5 * tot_chars * w / tot_w / avail), 6)
                   AS rate,
               CAST(floor(least(1.0, 0.5 * tot_chars * w / tot_w / avail)
                          * avail) AS BIGINT) AS planned_chars
        FROM s, t ORDER BY source
    """,
    "p_split": """
        SELECT CASE
                 WHEN substr(md5('s42|' || CAST(doc_id AS VARCHAR)), 1, 4)
                      < 'e666' THEN 'train'
                 WHEN substr(md5('s42|' || CAST(doc_id AS VARCHAR)), 1, 4)
                      < 'f333' THEN 'val'
                 ELSE 'test'
               END AS split,
               count(*) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS total_chars
        FROM documents GROUP BY 1 ORDER BY split
    """,
    "p_pipeline_e2e": f"""
        WITH q AS (
            SELECT doc_id, text,
                   len({_WORDS.format(col='text')}) AS nt
            FROM documents
            WHERE len({_WORDS.format(col='text')}) >= 20
        ),
        keep AS (
            SELECT min(doc_id) AS doc_id FROM q GROUP BY md5(text)
        ),
        train AS (
            SELECT q.doc_id, q.nt FROM q JOIN keep USING (doc_id)
            WHERE substr(md5('s42|' || CAST(q.doc_id AS VARCHAR)), 1, 4)
                  < 'e666'
        ),
        c AS (
            SELECT doc_id, nt, sum(nt) OVER (ORDER BY doc_id) AS cum
            FROM train
        )
        SELECT CAST((cum - nt) // 2000 AS BIGINT) AS shard_id,
               count(*) AS n_docs,
               CAST(sum(nt) AS BIGINT) AS total_tokens
        FROM c GROUP BY 1 ORDER BY shard_id
    """,
    "p_pack_shards": """
        WITH c AS (
            SELECT doc_id, n_chars,
                   sum(n_chars) OVER (ORDER BY doc_id) AS cum
            FROM documents
        )
        SELECT CAST((cum - n_chars) // 25000 AS BIGINT) AS shard_id,
               count(*) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS total_chars
        FROM c GROUP BY 1 ORDER BY shard_id
    """,
    "a_asof_join": """
        SELECT e.event_id, e.user_id, ref.o_orderkey, ref.o_totalprice
        FROM events e LEFT JOIN LATERAL (
            SELECT o_orderkey, o_totalprice FROM orders o
            WHERE o.o_custkey = e.user_id AND o.o_orderdate <= CAST(e.ts AS TIMESTAMP)
            ORDER BY o_orderdate DESC, o_orderkey DESC LIMIT 1
        ) ref ON TRUE
        ORDER BY e.event_id
    """,
    "a_asof_nearest": """
        SELECT p.event_id, p.user_id, ref.click_id
        FROM (SELECT event_id, user_id, epoch_us(ts) AS t_us
              FROM events WHERE event_type = 'purchase') p
        LEFT JOIN LATERAL (
            SELECT c.click_id
            FROM (SELECT event_id AS click_id, user_id,
                         epoch_us(ts) AS c_us
                  FROM events WHERE event_type = 'click') c
            WHERE c.user_id = p.user_id
            ORDER BY abs(c.c_us - p.t_us) ASC,
                     CASE WHEN c.c_us <= p.t_us THEN 0 ELSE 1 END ASC,
                     c.click_id DESC
            LIMIT 1
        ) ref ON TRUE
        ORDER BY p.event_id
    """,
    "a_asof_forward": """
        SELECT e.event_id, e.user_id, ref.o_orderkey, ref.o_totalprice
        FROM events e LEFT JOIN LATERAL (
            SELECT o_orderkey, o_totalprice FROM orders o
            WHERE o.o_custkey = e.user_id
              AND o.o_orderdate >= CAST(e.ts AS TIMESTAMP)
            ORDER BY o_orderdate ASC, o_orderkey DESC LIMIT 1
        ) ref ON TRUE
        ORDER BY e.event_id
    """,
    "d_bloom_bound": """
        WITH hist AS (
            SELECT DISTINCT md5(text) AS h FROM documents WHERE doc_id < 400
        ),
        inc AS (
            SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id >= 400
        )
        SELECT CAST((SELECT count(*) FROM inc
                     WHERE h IN (SELECT h FROM hist)) AS BIGINT)
                   AS n_true_dups,
               CAST(0 AS BIGINT) AS n_missed_dups,
               TRUE AS one_sided
    """,
    "a_asof_tolerance": """
        SELECT p.event_id, p.user_id, ref.click_id,
               CAST(date_diff('second', ref.cts, p.ts) AS BIGINT) AS gap_s
        FROM events p LEFT JOIN LATERAL (
            SELECT c.event_id AS click_id, c.ts AS cts
            FROM events c
            WHERE c.user_id = p.user_id AND c.event_type = 'click'
              AND date_diff('second', c.ts, p.ts) BETWEEN 0 AND 3600
            ORDER BY date_diff('second', c.ts, p.ts) ASC,
                     c.event_id DESC LIMIT 1
        ) ref ON TRUE
        WHERE p.event_type = 'purchase'
        ORDER BY p.event_id
    """,
    "a_range_join": """
        WITH p AS (
            SELECT event_id AS purchase_id, user_id,
                   CAST(ts AS TIMESTAMP) - INTERVAL 30 MINUTE AS w_start,
                   CAST(ts AS TIMESTAMP) AS w_end
            FROM events WHERE event_type = 'purchase'
        ),
        o AS (
            SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts
            FROM events WHERE event_type <> 'purchase'
        )
        SELECT p.purchase_id, p.user_id,
               count(*) AS n_prior_events,
               CAST(sum(CASE WHEN o.event_type = 'click' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_clicks
        FROM p JOIN o ON o.user_id = p.user_id
                     AND o.ts BETWEEN p.w_start AND p.w_end
        GROUP BY 1, 2 ORDER BY purchase_id
    """,
    "m_binary_meta": """
        SELECT doc_id,
               CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
               md5(text) AS checksum,
               lower(substring(hex(encode(text)), 1, 8)) AS head_hex
        FROM documents ORDER BY doc_id
    """,
    # Real-codec metadata: the oracle restates the container layouts
    # in closed form (BMP: 54-byte header + height x 4-aligned stride;
    # WAV: 44-byte canonical header + frames x channels x 2) — the
    # Spark side must reproduce them through the REAL header parse.
    "m_image_meta": """
        WITH g AS (
            SELECT doc_id,
                   4 + doc_id % 13 AS w,
                   3 + doc_id % 11 AS h
            FROM documents WHERE doc_id < 400
        )
        SELECT doc_id,
               CAST(54 + h * ((w * 3 + 3) - ((w * 3 + 3) % 4))
                    AS BIGINT) AS n_bytes,
               'bmp' AS format,
               CAST(w AS INT) AS width,
               CAST(h AS INT) AS height
        FROM g ORDER BY doc_id
    """,
    "m_audio_meta": """
        WITH g AS (
            SELECT doc_id,
                   [8000, 16000, 22050, 44100][CAST(doc_id % 4 AS INT) + 1]
                       AS rate,
                   1 + doc_id % 2 AS ch,
                   100 + doc_id % 50 AS frames
            FROM documents WHERE doc_id < 400
        )
        SELECT doc_id,
               CAST(44 + frames * ch * 2 AS BIGINT) AS n_bytes,
               'wav' AS codec,
               CAST(rate AS INT) AS sample_rate,
               CAST(ch AS INT) AS channels,
               CAST(frames * 1000 // rate AS INT) AS duration_ms,
               CAST(frames AS BIGINT) AS n_samples
        FROM g ORDER BY doc_id
    """,
    # Real-codec round trips: the oracle never decodes a byte — it
    # restates the closed forms the synthetic corpus was built from
    # (multimodal.py::synthesize_image_corpus / synthesize_audio_corpus)
    # and the Spark side must reproduce them through REAL encode+decode.
    "m_image_decode": """
        WITH g AS (
            SELECT doc_id,
                   4 + doc_id % 13 AS w,
                   3 + doc_id % 11 AS h,
                   doc_id % 200 AS base
            FROM documents WHERE doc_id < 400
        )
        SELECT doc_id,
               ['bmp', 'ppm', 'png'][CAST(doc_id % 3 AS INT) + 1] AS format,
               CAST(w AS INT) AS width,
               CAST(h AS INT) AS height,
               CAST(3 * (h * w * base
                         + w * ((h * (h - 1)) // 2)
                         + h * ((w * (w - 1)) // 2)) AS BIGINT) AS sum_px
        FROM g ORDER BY doc_id
    """,
    "m_audio_decode": """
        WITH g AS (
            SELECT doc_id,
                   [8000, 16000, 22050, 44100][CAST(doc_id % 4 AS INT) + 1]
                       AS rate,
                   1 + doc_id % 2 AS channels,
                   100 + doc_id % 50 AS frames,
                   CAST(floor((doc_id % 64) / 64.0 * 32767 + 0.5) AS INT)
                       AS amp_q
            FROM documents WHERE doc_id < 400
        )
        SELECT doc_id,
               'wav' AS codec,
               CAST(rate AS INT) AS sample_rate,
               CAST(channels AS INT) AS channels,
               CAST(frames * 1000 // rate AS INT) AS duration_ms,
               CAST(frames AS BIGINT) AS n_frames,
               amp_q AS first_amp_q
        FROM g ORDER BY doc_id
    """,
    # The real resize chain in closed form. Geometry replicates
    # resize_pixels' float math exactly (IEEE divide/multiply are
    # correctly rounded in both engines, floor(double) = Python's
    # int() for positives); the pixel sum uses the nearest-neighbor
    # gather identity: resized(i,j) = base + R_i + C_j with
    # R_i = floor(i*h/nh), C_j = floor(j*w/nw), summed over 3
    # channels. range(0,16) covers every possible side (h <= 13,
    # w <= 16). Validated element-for-element against the Python
    # resize for all 400 ids.
    "m_resize": """
        WITH g AS (
            SELECT doc_id, doc_id % 200 AS base,
                   4 + doc_id % 13 AS w, 3 + doc_id % 11 AS h
            FROM documents WHERE doc_id < 400),
        geo AS (
            SELECT doc_id, base, w, h,
                   greatest(1, CAST(floor(w * least(1.0,
                       8.0 / greatest(w, h))) AS INT)) AS nw,
                   greatest(1, CAST(floor(h * least(1.0,
                       8.0 / greatest(w, h))) AS INT)) AS nh
            FROM g),
        idx AS (
            SELECT geo.doc_id,
                   SUM(CASE WHEN s.i < nh THEN CAST(floor(
                       s.i * (CAST(h AS DOUBLE) / nh)) AS BIGINT)
                       ELSE 0 END) AS sum_r,
                   SUM(CASE WHEN s.i < nw THEN CAST(floor(
                       s.i * (CAST(w AS DOUBLE) / nw)) AS BIGINT)
                       ELSE 0 END) AS sum_c
            FROM geo, range(0, 16) s(i)
            GROUP BY geo.doc_id)
        SELECT geo.doc_id, 'ppm' AS format,
               nw AS width, nh AS height,
               -- CAST: sum_r/sum_c are SUM(BIGINT) = HUGEINT in DuckDB;
               -- uncast, the driver's pandas canonicalization turns the
               -- column into float64 and every row hash-mismatches the
               -- Spark bigint (CORRECTNESS_r05 red). Same pattern as
               -- m_image_decode's sum_px above.
               CAST(3 * (nh * nw * base + nw * sum_r + nh * sum_c)
                    AS BIGINT) AS sum_px
        FROM geo JOIN idx USING (doc_id)
        ORDER BY doc_id
    """,
    # Pixel-moment embedding in closed form. pixel(r,c,ch) = b + r + c
    # (synthesize_image_corpus), so with Sh = sum(r), Qh = sum(r^2),
    # Sw/Qw likewise over columns:
    #   sum_px   = 3(hwb + w*Sh + h*Sw)
    #   sumsq_px = 3(hw b^2 + w*Qh + h*Qw + 2bw*Sh + 2bh*Sw + 2*Sh*Sw)
    #   row_mom  = 3(wb*Sh + w*Qh + Sh*Sw)   col_mom symmetric
    # All-integer: zero float drift, and every column CAST so DuckDB's
    # HUGEINT promotion can't leak into the driver's pandas canon
    # (the r5 m_resize lesson).
    "m_image_embed": f"""{PIXEL_MOMENTS_CTE}
        SELECT doc_id,
               CAST(sum_px AS BIGINT) AS sum_px,
               CAST(sumsq_px AS BIGINT) AS sumsq_px,
               CAST(row_mom AS BIGINT) AS row_mom,
               CAST(col_mom AS BIGINT) AS col_mom,
               CAST(min_px AS INT) AS min_px,
               CAST(max_px AS INT) AS max_px,
               CAST(center_px AS INT) AS center_px
        FROM m ORDER BY doc_id
    """,
    "m_embed_topk": f"""{PIXEL_MOMENTS_CTE},
        e AS (
            SELECT doc_id,
                   sum_px / (sumsq_px + 1.0) AS e1,
                   row_mom / (sum_px + 1.0) AS e2,
                   col_mom / (sum_px + 1.0) AS e3,
                   min_px / 255.0 AS e4,
                   max_px / 255.0 AS e5,
                   center_px / 255.0 AS e6,
                   (max_px - min_px) / 255.0 AS e7,
                   sum_px / (1.0 + max_px) AS e8
            FROM m),
        p AS (
            SELECT doc_id AS probe_id, e1 AS p1, e2 AS p2, e3 AS p3,
                   e4 AS p4, e5 AS p5, e6 AS p6, e7 AS p7, e8 AS p8
            FROM e WHERE doc_id < 3),
        sc AS (
            SELECT p.probe_id, c.doc_id,
                   round((0.0 + c.e1 * p.p1 + c.e2 * p.p2 + c.e3 * p.p3
                          + c.e4 * p.p4 + c.e5 * p.p5 + c.e6 * p.p6
                          + c.e7 * p.p7 + c.e8 * p.p8)
                         / (sqrt(0.0 + c.e1 * c.e1 + c.e2 * c.e2
                                 + c.e3 * c.e3 + c.e4 * c.e4 + c.e5 * c.e5
                                 + c.e6 * c.e6 + c.e7 * c.e7 + c.e8 * c.e8)
                            * sqrt(0.0 + p.p1 * p.p1 + p.p2 * p.p2
                                   + p.p3 * p.p3 + p.p4 * p.p4
                                   + p.p5 * p.p5 + p.p6 * p.p6
                                   + p.p7 * p.p7 + p.p8 * p.p8)),
                         6) AS cos_sim
            FROM e c CROSS JOIN p WHERE c.doc_id >= 3),
        r AS (
            SELECT *, row_number() OVER (
                PARTITION BY probe_id ORDER BY cos_sim DESC, doc_id
            ) AS rnk
            FROM sc)
        SELECT probe_id, CAST(rnk AS INT) AS rnk, doc_id, cos_sim
        FROM r WHERE rnk <= 5 ORDER BY probe_id, rnk
    """,
    "m_frame_sample": """
        WITH h AS (
            SELECT doc_id, text, md5(text) AS hh FROM documents WHERE doc_id < 200
        ),
        d AS (
            SELECT doc_id, text,
                   1 + ((strpos('0123456789abcdef', substr(hh, 11, 1)) - 1) * 16
                        + (strpos('0123456789abcdef', substr(hh, 12, 1)) - 1)) % 60
                       AS duration
            FROM h
        )
        SELECT doc_id, CAST(i AS INT) AS frame_idx,
               round(i * duration * 1.0 / least(4, duration), 6) AS frame_ts,
               md5(text || '#' || CAST(i AS VARCHAR)) AS frame_checksum
        FROM d, generate_series(0, 3) s(i)
        WHERE i < least(4, duration)
        ORDER BY doc_id, frame_idx
    """,
}
