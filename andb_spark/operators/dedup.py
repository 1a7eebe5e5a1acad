"""Deduplication operators for LLM training-data pipelines.

North-star surface (build brief): exact dedup, MinHash+LSH, SimHash,
n-gram Jaccard, embedding-cosine near-dup (the last lives in
``operators/similarity.py``). The reference has no dedup at all; its
closest relative is the vector type + cosine builtin
(andb/catalog/type.py:237-280, catalog/buitin_functions.py:3-12).

Design constraints honored here:
- Everything is pure Catalyst expressions (md5/split/explode/groupBy) —
  JVM-side, no Python UDFs. The same hash math is expressible in ANSI
  SQL, which is what makes these operators oracle-checkable against
  DuckDB. Hot per-shingle paths avoid higher-order-function lambdas
  (``zip_with``/``transform``/``filter``), which Spark interprets per
  element instead of compiling.
- MinHash is integer arithmetic over ONE md5 per shingle: the base hash
  x is the first 7 hex digits of md5(shingle) as a BIGINT (28 bits;
  DuckDB spells it ``('0x' || substr(md5(s), 1, 7))::BIGINT``), and
  signature slot h is min((a_h * x + b_h) % (2^31 - 1)), the
  universal-hash simulation of a random permutation (Broder's min-wise
  permutations; Leskovec–Rajaraman–Ullman, *Mining of Massive
  Datasets* §3.3). The products stay below 2^62, so no engine
  overflows, and a min over longs runs as a hash aggregate (a min over
  strings has no hash-aggregate buffer and sorts every shingle row).
- Every MinHash consumer — the pairs, the signatures and band table,
  the incremental pairs — reads ONE lazy per-document aggregate (id,
  signature, distinct shingle set); where a plan reads both halves, AQE
  reuses its single exchange instead of recomputing it. Nothing is
  cached or checkpointed: a lazily persisted shingle table raced its
  own first fill (AQE submits the branches' query stages concurrently,
  before the cache holds a block, so most branches re-shingled the
  corpus anyway), and building a builder runs no Spark job.
- At 100 TB: the shuffles are the per-document groupBy and the
  band-bucket self-join. Band signatures are md5s of the band's
  min-hashes ⇒ near-uniform shuffle keys, no skew. Candidate
  verification joins only the candidate pairs' shingle sets, not all
  pairs.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from andb_spark.functions.text import tokens, tokens_sql

# The shared session-level cache registry lives in andb_spark.caching
# (dedup, sampling, bloom and the workloads all register there). These
# aliases keep the long-standing import sites working: bench.py,
# tools/compare.py and several workloads call
# ``dedup.release_caches()`` / ``dedup._persist_tracked``.
from andb_spark.caching import (  # noqa: F401  (re-export)
    checkpoint_tracked as _checkpoint_tracked,
    persist_tracked as _persist_tracked,
    release_caches,
)


def _shingle_zip(words: str, n: int) -> str:
    """THE shingle definition, as Spark SQL: a shingle is n consecutive
    ``tokens()`` words joined by one space. Returns arrays_zip of the n
    shifted slices of the token-array expression ``words`` — element i
    holds words i..i+n-1 as fields '0'..'n-1', and ``_shingle_text``
    joins one element — O(tokens) per row. (The indexed formulation,
    element_at(words, i+j), is O(tokens²) because element_at walks the
    array per access.) Fewer than n tokens → empty (slice lengths clamp
    to 0)."""
    length = f"greatest(size({words}) - {n - 1}, 0)"
    return "arrays_zip(" + ", ".join(
        f"slice({words}, {j}, {length})" for j in range(1, n + 1)
    ) + ")"


def _shingle_text(z: str, n: int) -> str:
    return "concat_ws(' ', " + ", ".join(f"{z}.`{j}`" for j in range(n)) + ")"


def shingles(text_col: str, n: int = 3) -> Column:
    """Distinct word n-gram shingles of a text column (array<string>),
    the array form of ``_shingle_zip``."""
    words = tokens_sql(f"`{text_col}`")
    return F.expr(
        f"array_distinct(transform({_shingle_zip(words, n)},"
        f" z -> {_shingle_text('z', n)}))"
    )


def _shingle_rows_sql(text_col: str, id_col: str, n: int = 3) -> str:
    """(id, shingle) rows over the relation ``{src}``, one per shingle
    OCCURRENCE — the row form of ``_shingle_zip``, built from generated
    code only: explode the zipped slices, then concat_ws each row (no
    per-element lambda). The token array is projected once and read by
    all n slices."""
    return (
        f"SELECT `{id_col}`, {_shingle_text('z', n)} AS shingle FROM ("
        f"SELECT `{id_col}`, explode({_shingle_zip('w', n)}) AS z FROM ("
        f"SELECT `{id_col}`, {tokens_sql(f'`{text_col}`')} AS w FROM {{src}}))"
    )


def exact_dup_groups(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact dedup: hash-groupBy on md5(text). Returns one row per
    duplicated content hash with the group size and the survivor id
    (min id — the canonical "keep-first" policy)."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("text_hash"))
        .agg(
            F.count(F.lit(1)).alias("n_dups"),
            F.min(id_col).alias("keep_id"),
        )
        .filter(F.col("n_dups") > 1)
    )


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Keep exactly one row (min id) per distinct text. Returns the
    surviving ids. Equivalent plan to a groupBy-min — one shuffle."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("text_hash"))
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )


_SPREAD_BYTES_PER_PARTITION = 64 * 1024


def spread_small_input(df: DataFrame) -> DataFrame:
    """Fan a narrow scan out before a CPU-bound per-row stage, with a
    SIZE-DERIVED width (guide §2: scale-adaptive partitioning, not a
    constant tuned to either local mode or the cluster).

    The signature stage is CPU-bound per shingle, but it runs
    at the SCAN's parallelism — and a small corpus is often one parquet
    row group, so the whole stage lands on ONE core while the rest
    idle (stage-level profile, SCALE.md §7 "Minhash drift, root-caused":
    1-task 1.1–1.5 s stages under d_minhash_lsh at sf0.1). When the
    scan has fewer partitions than default parallelism, pay one cheap
    shuffle of the raw rows to spread the compute; at 100 TB the scan
    already carries thousands of splits and this returns the frame
    untouched — no shuffle added.

    Width: one partition per ~64 KiB of the optimizer's input-size
    estimate, clamped to [1, defaultParallelism]. The earlier
    unconditional fan-out to defaultParallelism put 32 near-empty
    concurrent tasks on a sub-MB corpus, and the scheduling + GC +
    codegen-lock contention cost more than the parallelism bought
    (r15 width scan at sf0.1, cache released between runs:
    width 2 → 7.9 s, 4 → 3.3 s, 8 → 1.6 s, 16 → 1.8 s, 32 → 2.4 s
    best-of-3, and width 32's in-bench number degraded to 11.9 s under
    a loaded heap). The explicit repartition(N) is exempt from AQE
    coalescing, so the fan-out survives the small-data estimate that
    caused it.

    A plan that already shuffles is returned untouched: it runs at the
    shuffle's width, not the scan's, and asking an adaptive plan for
    its partition count would run its query stages — jobs at build
    time."""
    target = df.sparkSession.sparkContext.defaultParallelism
    qe = df._jdf.queryExecution()
    if qe.executedPlan().nodeName() == "AdaptiveSparkPlan":
        return df
    n = qe.toRdd().getNumPartitions()
    if n >= target:
        return df
    try:
        est = int(qe.optimizedPlan().stats().sizeInBytes())
    except Exception:
        est = 0
    if est <= 0:  # no usable estimate: the old conservative behavior
        width = target
    else:
        width = max(
            1, min(target, -(-est // _SPREAD_BYTES_PER_PARTITION))
        )
    return df.repartition(width) if n < width else df


# Signature slot h simulates a random permutation of the base hashes
# as x -> (a_h * x + b_h) % MERSENNE_31. The base hash takes 7 hex
# digits (x < 2^28), so a_h * x + b_h < 2^59 + 2^31: no BIGINT overflow
# in Spark or DuckDB.
MERSENNE_31 = 2147483647
BASE_HASH_HEX_DIGITS = 7


def minhash_permutations(num_hashes: int) -> list[tuple[int, int]]:
    """THE MinHash constants: (a_h, b_h) for h < num_hashes, with
    1 <= a_h < MERSENNE_31 and 0 <= b_h < MERSENNE_31, derived from md5
    of fixed labels (no hidden choice; every num_hashes shares the same
    prefix). The DuckDB oracles read them from here."""
    def word(label: str) -> int:
        return int(hashlib.md5(label.encode()).hexdigest(), 16)

    return [
        (
            1 + word(f"minhash-a|{h}") % (MERSENNE_31 - 1),
            word(f"minhash-b|{h}") % MERSENNE_31,
        )
        for h in range(num_hashes)
    ]


def base_hash_sql(col: str) -> str:
    """The base hash of a shingle as Spark SQL: its md5's first
    BASE_HASH_HEX_DIGITS hex digits as a non-negative BIGINT."""
    return (
        f"CAST(conv(substr(md5({col}), 1, {BASE_HASH_HEX_DIGITS}), 16, 10)"
        " AS BIGINT)"
    )


def _doc_minhash(
    df: DataFrame, text_col: str, id_col: str, num_hashes: int
) -> DataFrame:
    """THE per-document aggregate: (id, sig, base_min, shingles) where
    sig[h] = min over the document's shingles of
    (a_h * x + b_h) % MERSENNE_31 with x the shingle's base hash and
    (a_h, b_h) from ``minhash_permutations``; base_min = min(x) (the
    document's MinHash bucket, which the LSH recall audit samples on);
    shingles is the distinct shingle set. One groupBy over the shingle
    rows: x is one md5 per shingle row, projected once below the
    aggregate; the mins are integer arithmetic in generated code (a
    higher-order-function fold over a shingle array is interpreted per
    element); collect_set makes the set distinct; partial aggregation
    ships one row per (doc, partition). A document with fewer than 3
    tokens, empty or NULL text has no shingle and no row. Catalyst
    prunes the columns a consumer does not read: the signature alone
    is a HashAggregate of longs."""
    mins = ", ".join(
        f"min(({a} * x + {b}) % {MERSENNE_31})"
        for a, b in minhash_permutations(num_hashes)
    )
    # one SQL statement: a single parse and analysis on the JVM instead
    # of a py4j round trip per function and per DataFrame step
    return df.sparkSession.sql(
        f"SELECT `{id_col}`, array({mins}) AS sig, min(x) AS base_min,"
        " collect_set(shingle) AS shingles FROM ("
        f"SELECT `{id_col}`, shingle, {base_hash_sql('shingle')} AS x"
        f" FROM ({_shingle_rows_sql(text_col, id_col)})) GROUP BY `{id_col}`",
        src=spread_small_input(df),
    )


def minhash_docs(
    df: DataFrame, text_col: str, id_col: str, num_hashes: int = 8
) -> DataFrame:
    """``_doc_minhash`` for a plan that reads BOTH the signature and the
    shingle set. The filter is always true (a document has a row only
    if it has a shingle, and every signature has num_hashes slots), but
    it references both columns: without it, column pruning would split
    the aggregate into a signature-only copy and a set-only copy — two
    exchanges, each shingling the corpus — instead of one exchange AQE
    reuses."""
    return _doc_minhash(df, text_col, id_col, num_hashes).where(
        f"size(sig) = {num_hashes} AND size(shingles) > 0"
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 8,
) -> DataFrame:
    """Per-document MinHash signature: (id, sig array<bigint>), the
    signature column of ``_doc_minhash`` (its shingle set is pruned).
    One shuffle — the per-document groupBy; an earlier
    explode(shingle)×explode(h) formulation shuffled
    num_hashes×|shingles| rows and was ~10× slower end-to-end."""
    return _doc_minhash(df, text_col, id_col, num_hashes).select(
        id_col, "sig"
    )


def lsh_bands(
    signatures: DataFrame, id_col: str, num_hashes: int = 8, rows_per_band: int = 2
) -> DataFrame:
    """Fold per-doc signatures into LSH band rows: (id, band, band_sig).
    band_sig = md5 of the band's min-hashes as decimal text joined by
    '|' in h order — one definition for every rows_per_band, and DuckDB
    spells it md5(string_agg(min_hash::VARCHAR, '|' ORDER BY h)).
    Still per-row (a small inline of num_bands structs per doc)."""
    if not 1 <= rows_per_band <= num_hashes:
        raise ValueError(
            f"rows_per_band={rows_per_band} must be in [1, num_hashes="
            f"{num_hashes}] — larger values would yield ZERO bands and"
            " silently report no duplicates"
        )
    if num_hashes % rows_per_band:
        raise ValueError(
            f"num_hashes={num_hashes} must divide evenly into bands of"
            f" rows_per_band={rows_per_band} — a remainder would silently"
            " discard hash slots and weaken recall"
        )
    bands = ", ".join(
        f"named_struct('band', {b}, 'band_sig', md5(concat_ws('|', "
        + ", ".join(
            f"CAST(sig[{b * rows_per_band + r}] AS STRING)"
            for r in range(rows_per_band)
        )
        + ")))"
        for b in range(num_hashes // rows_per_band)
    )
    return signatures.selectExpr(f"`{id_col}`", f"inline(array({bands}))")


def lsh_candidate_pairs(bands: DataFrame, id_col: str) -> DataFrame:
    """Band buckets → distinct candidate pairs (id_a < id_b), as a
    bucket self-join. Both join inputs are the same band rows: when the
    join shuffles, AQE reuses one side's exchange for the other; when
    it broadcasts, the per-document aggregate under the bands is still
    one exchange that both sides read. A bucket of size k yields k²
    join rows — identical-signature skew is inherent to LSH
    candidates, not to this plan; AQE skew-join splits oversized
    buckets at scale."""
    a = bands.selectExpr("band", "band_sig", f"`{id_col}` AS id_a")
    b = bands.selectExpr("band", "band_sig", f"`{id_col}` AS id_b")
    return (
        a.join(b, ["band", "band_sig"])
        .where("id_a < id_b")
        .select("id_a", "id_b")
        .distinct()
    )


def _score_jaccard(pairs: DataFrame, threshold: float) -> DataFrame:
    """Shared tail of every exact-Jaccard scorer: (id_a, id_b, n_inter,
    n_a, n_b) → (id_a, id_b, jaccard) with jaccard = round(|∩|/|∪|, 6)
    >= threshold. ONE copy of the rounding convention the DuckDB
    oracles restate — the MinHash verifiers and shingle_jaccard_pairs
    must never drift apart on it."""
    return pairs.selectExpr(
        "id_a",
        "id_b",
        "round(n_inter / CAST(n_a + n_b - n_inter AS DOUBLE), 6)"
        " AS jaccard",
    ).where(F.col("jaccard") >= threshold)


def _verified(
    cands: DataFrame,
    sets_a: DataFrame,
    sets_b: DataFrame,
    id_col: str,
    threshold: float,
) -> DataFrame:
    """Exact Jaccard of candidate pairs (id_a, id_b) only, never all
    pairs: each pair joined to id_a's shingle set in ``sets_a`` and
    id_b's in ``sets_b`` (id, shingles — ``_doc_minhash`` rows), scored
    by size(array_intersect(a, b))."""
    pairs = (
        cands.join(
            sets_a.selectExpr(f"`{id_col}` AS id_a", "shingles AS sh_a"),
            "id_a",
        )
        .join(
            sets_b.selectExpr(f"`{id_col}` AS id_b", "shingles AS sh_b"),
            "id_b",
        )
        .selectExpr(
            "id_a",
            "id_b",
            "size(array_intersect(sh_a, sh_b)) AS n_inter",
            "size(sh_a) AS n_a",
            "size(sh_b) AS n_b",
        )
    )
    return _score_jaccard(pairs, threshold)


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 8,
    rows_per_band: int = 2,
    threshold: float = 0.5,
) -> DataFrame:
    """Full MinHash→LSH→verify pipeline: near-duplicate pairs with exact
    Jaccard >= threshold among LSH candidates.

    Execution regime: one lazy plan around ONE per-document aggregate
    (``minhash_docs``: id, signature, distinct shingle set). The bands,
    ``lsh_candidate_pairs`` and the verification (``_verified``) all
    read it, and AQE serves every reference from its single exchange
    (ReusedExchange). Building runs no Spark job, so EXPLAIN and the
    reuse advisor stay execution-free.

    Nothing is persisted. An earlier regime lazily persisted the
    exploded (id, shingle) table for six branches, but AQE submits
    those branches' query stages concurrently, before the cache holds
    a block, so ten of its seventeen jobs shingled the corpus again;
    the band self-join's broadcast side also ran the signature
    aggregate a second time. At 100 TB the aggregate is the one
    corpus-wide pass and everything after it is per-document or
    per-candidate.
    """
    docs = minhash_docs(df, text_col, id_col, num_hashes)
    cands = lsh_candidate_pairs(
        lsh_bands(docs, id_col, num_hashes, rows_per_band), id_col
    )
    return _verified(cands, docs, docs, id_col, threshold)


def band_table(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 8,
    rows_per_band: int = 2,
) -> DataFrame:
    """The maintainable LSH state: (id, band, band_sig) rows. MinHash
    signatures are a pure per-document function, so this table is
    append-only — each ingest increment computes bands for ITS docs
    only and appends them; history is never recomputed. At 100 TB,
    store it as a managed table bucketed by (band, band_sig) so the
    nightly increment-vs-history candidate join is shuffle-free on the
    history side. A stored band table is tied to the MinHash definition
    (``minhash_permutations``, ``base_hash_sql``, ``lsh_bands``):
    change any of them and the table must be rebuilt."""
    return lsh_bands(
        minhash_signatures(df, text_col, id_col, num_hashes), id_col,
        num_hashes, rows_per_band,
    )


def incremental_minhash_pairs(
    history_df: DataFrame,
    new_df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 8,
    rows_per_band: int = 2,
    threshold: float = 0.5,
    history_bands: DataFrame | None = None,
) -> DataFrame:
    """Near-dup pairs of an ingest INCREMENT against the HISTORICAL
    corpus — the production dedup shape (its exact-hash sibling is the
    anti-join in workloads d_incremental_dedup): signature work is
    proportional to the increment, never to history.

    Pass ``history_bands`` (the maintained ``band_table``) to skip
    recomputing historical signatures entirely; otherwise they are
    derived from ``history_df`` here. The increment is aggregated once
    (``minhash_docs``): its bands and its shingle sets read the same
    exchange. Verification (``_verified``) only ever shingles the
    candidate history docs besides the increment — the history side is
    restricted by a semi-join on candidate ids before any text
    processing, so a 100 TB history contributes only its (few)
    colliding documents to the verify stage.

    One lazy plan: nothing is persisted or checkpointed, and building
    runs no Spark job.

    Returns (id_a = history id, id_b = new id, jaccard >= threshold).
    New-vs-new duplicates inside the increment are the job of the
    ordinary ``minhash_lsh_pairs`` over the (small) increment.
    """
    hb = (
        history_bands
        if history_bands is not None
        else band_table(history_df, text_col, id_col, num_hashes, rows_per_band)
    )
    new_docs = minhash_docs(new_df, text_col, id_col, num_hashes)
    nb = lsh_bands(new_docs, id_col, num_hashes, rows_per_band)
    cands = (
        hb.select("band", "band_sig", F.col(id_col).alias("id_a"))
        .join(
            nb.select("band", "band_sig", F.col(id_col).alias("id_b")),
            ["band", "band_sig"],
        )
        .where("id_a != id_b")
        .select("id_a", "id_b")
        .distinct()
    )
    # id is document IDENTITY: if an id somehow appears on both sides
    # (a re-delivered doc with edited text that slipped past the exact
    # screen), keeping both rows would merge two texts' shingles under
    # one id and corrupt every Jaccard involving it. The NEW row
    # represents the id in verification; self-pairs are dropped above.
    hist_hit = history_df.join(
        cands.select(F.col("id_a").alias(id_col)), id_col, "left_semi"
    ).join(new_df.select(id_col), id_col, "left_anti")
    sets_a = (
        _doc_minhash(hist_hit, text_col, id_col, num_hashes)
        .select(id_col, "shingles")
        .unionByName(new_docs.select(id_col, "shingles"))
    )
    return _verified(cands, sets_a, new_docs, id_col, threshold)


def passage_chunks(
    df: DataFrame, text_col: str, id_col: str, k: int = 16
) -> DataFrame:
    """Non-overlapping k-token passages of every document:
    (id, chunk_idx, n_tokens, chunk_text, chunk_hash). The unit of passage-level
    dedup (Lee et al. 2022, "Deduplicating Training Data Makes Language
    Models Better" — exact substring dedup at passage granularity):
    exact-dup screening below document scope catches boilerplate and
    quoted passages document-level hashing misses. Tokenize once,
    explode a chunk-index sequence, slice — one narrow stage, no
    shuffle (the same machinery as workloads t_chunking)."""
    t = df.select(F.col(id_col), tokens(F.col(text_col)).alias("_w"))
    return (
        t.withColumn("_n", F.ceil(F.size("_w") / F.lit(float(k))))
        .filter(F.col("_n") > 0)
        .select(
            id_col,
            F.explode(F.sequence(F.lit(0), F.col("_n") - 1)).alias("_i"),
            "_w",
        )
        .select(
            id_col,
            F.col("_i").cast("int").alias("chunk_idx"),
            F.slice(F.col("_w"), F.col("_i") * k + 1, k).alias("_chunk"),
        )
        .select(
            id_col,
            "chunk_idx",
            F.size("_chunk").cast("long").alias("n_tokens"),
            F.concat_ws(" ", F.col("_chunk")).alias("chunk_text"),
        )
        .withColumn("chunk_hash", F.md5(F.col("chunk_text")))
    )


def repeated_passages(
    df: DataFrame, text_col: str, id_col: str, k: int = 16
) -> DataFrame:
    """Corpus-wide repeated-passage report: every k-token chunk that
    occurs 2+ times → (chunk_hash, n_docs, n_occurrences, first_doc,
    first_idx). One hash-keyed groupBy (md5 keys ⇒ uniform shuffle);
    the first occurrence is the min of a zero-padded sortable
    ``doc:idx`` string, a total order both engines agree on."""
    c = passage_chunks(df, text_col, id_col, k)
    # Bias ids by 2^63 (decimal math: bigint would overflow) before
    # zero-padding: a plain %020d mis-orders NEGATIVE ids ('-…05' sorts
    # before '-…10' lexicographically, inverting their numeric order),
    # silently reporting the wrong first occurrence for any caller with
    # signed-hash ids. Biased, every id is a non-negative 20-digit
    # string whose lexicographic order IS numeric order over the full
    # bigint range (multimodal ingest derives doc_ids up to ~9.2e18).
    key = F.concat(
        F.lpad(
            (
                F.col(id_col).cast("decimal(20,0)")
                + F.expr("CAST('9223372036854775808' AS DECIMAL(20,0))")
            ).cast("string"),
            20,
            "0",
        ),
        F.lit(":"),
        F.format_string("%09d", F.col("chunk_idx")),
    )
    agg = (
        c.groupBy("chunk_hash")
        .agg(
            F.countDistinct(id_col).alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
            F.min(key).alias("_first"),
        )
        .filter(F.col("n_occurrences") >= 2)
    )
    return agg.select(
        "chunk_hash",
        "n_docs",
        "n_occurrences",
        # un-bias: the packed key added 2^63 for sortability
        (
            F.split("_first", ":")[0].cast("decimal(20,0)")
            - F.expr("CAST('9223372036854775808' AS DECIMAL(20,0))")
        ).cast("bigint").alias("first_doc"),
        F.split("_first", ":")[1].cast("int").alias("first_idx"),
    )


def scrub_repeated_passages(
    df: DataFrame, text_col: str, id_col: str, k: int = 16
) -> DataFrame:
    """Passage-scrubbed corpus: drop every repeat of a duplicated
    passage except its global first occurrence (min (doc, idx) — so
    every distinct passage survives exactly once), then reassemble each
    document from its kept chunks in order. Returns (id, n_kept,
    n_dropped, scrubbed_hash) — the hash stands in for the rebuilt text
    so results stay compact and comparable.

    Scale: one row_number window keyed by chunk_hash (uniform md5
    partitions) + one groupBy(doc) for reassembly — two shuffles total,
    both corpus-chunk-sized, no all-pairs term anywhere. The reassembly
    collects k-token strings per doc, bounded by document length."""
    from pyspark.sql import Window

    c = passage_chunks(df, text_col, id_col, k)
    w = Window.partitionBy("chunk_hash").orderBy(id_col, "chunk_idx")
    marked = c.withColumn("_rn", F.row_number().over(w))
    kept = marked.withColumn(
        "_keep", (F.col("_rn") == 1).cast("int")
    )
    return (
        kept.groupBy(id_col)
        .agg(
            F.sum("_keep").alias("n_kept"),
            (F.count(F.lit(1)) - F.sum("_keep")).alias("n_dropped"),
            F.md5(
                F.concat_ws(
                    " ",
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.when(
                                    F.col("_keep") == 1,
                                    F.struct("chunk_idx", "chunk_text"),
                                )
                            )
                        ),
                        lambda s: s["chunk_text"],
                    ),
                )
            ).alias("scrubbed_hash"),
        )
        .filter(F.col("n_kept") > 0)
    )


def shingle_jaccard_pairs(sh: DataFrame, threshold: float) -> DataFrame:
    """All-pairs exact Jaccard >= threshold over (_id, shingle) rows,
    one per DISTINCT shingle of a document, computed via an inverted
    index on shingles (shingle-equality join), NOT a cartesian product
    — the classic scalable formulation: only pairs sharing at least one
    shingle are ever materialized."""
    sizes = sh.groupBy("_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    pairs = (
        sh.select(F.col("_id").alias("id_a"), "shingle")
        .join(sh.select(F.col("_id").alias("id_b"), "shingle"), "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
        .join(
            sizes.select(
                F.col("_id").alias("id_a"), F.col("n_shingles").alias("n_a")
            ),
            "id_a",
        )
        .join(
            sizes.select(
                F.col("_id").alias("id_b"), F.col("n_shingles").alias("n_b")
            ),
            "id_b",
        )
    )
    return _score_jaccard(pairs, threshold)


def ngram_jaccard_pairs(
    df: DataFrame, text_col: str, id_col: str, threshold: float
) -> DataFrame:
    """All-pairs exact word-3-gram Jaccard >= threshold
    (``shingle_jaccard_pairs`` over each document's shingles)."""
    return shingle_jaccard_pairs(
        df.select(
            F.col(id_col).alias("_id"),
            F.explode(shingles(text_col)).alias("shingle"),
        ),
        threshold,
    )


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 30,
) -> DataFrame:
    """Connected components over an undirected pair graph — the step
    that turns near-duplicate PAIRS into duplicate GROUPS (transitive
    closure: A~B, B~C ⇒ {A,B,C} share one canonical id). Returns
    (node, component_id) where component_id = min node id in the
    component, the standard keep-smallest-survivor convention.

    Distributed min-label propagation: each iteration every node takes
    the min of its own label and its neighbors' labels — one shuffle
    (join on the edge endpoint) + one aggregation per iteration,
    converging in O(graph diameter) rounds. Near-dup graphs are
    overwhelmingly small dense clusters, so diameter is tiny in
    practice.

    Scale mechanics:
    - ``edges`` is materialized once up front (localCheckpoint) — the
      iteration must never re-evaluate an expensive upstream candidate
      pipeline, and each round's result is checkpointed to truncate
      the exponentially-growing lineage (on a cluster: checkpoint to
      reliable storage instead).
    - Convergence is detected with a changed-label count — one extra
      action per round on the (small) label table, not on the corpus.
    """
    und = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    und = und.unionAll(und.select(F.col("v").alias("u"), F.col("u").alias("v")))
    und = _checkpoint_tracked(und)
    changed = 0  # defined even if max_iter <= 0 (for-else still fires)
    labels = _checkpoint_tracked(
        und.select(F.col("u").alias("node"))
        .distinct()
        .withColumn("component_id", F.col("node"))
    )
    for _ in range(max_iter):
        nbr_min = und.join(labels, und.v == labels.node).groupBy("u").agg(
            F.min("component_id").alias("nbr_label")
        )
        # Carry the previous label through the checkpoint so the
        # convergence check is a filter-count over already-materialized
        # rows — NOT a fresh old-vs-new shuffle join (which cost a
        # whole extra job per iteration; the count now reuses the
        # checkpoint the propagation step paid for anyway).
        new_labels = _checkpoint_tracked(
            labels.join(nbr_min, labels.node == nbr_min.u, "left")
            .select(
                "node",
                F.col("component_id").alias("_prev"),
                F.least(
                    F.col("component_id"),
                    F.coalesce(F.col("nbr_label"), F.col("component_id")),
                ).alias("component_id"),
            )
        )
        changed = new_labels.filter(
            F.col("component_id") != F.col("_prev")
        ).count()
        labels = new_labels.drop("_prev")
        if changed == 0:
            break
    else:
        # Exhausting max_iter with labels still moving means some
        # components are SPLIT (nodes past hop max_iter keep stale
        # labels) — silently returning them would leave near-dups in a
        # "deduplicated" corpus. Fail loudly; pathological long-chain
        # graphs need a larger max_iter (cost is O(diameter) rounds).
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} "
            f"iterations ({changed} labels still changing) — raise "
            "max_iter for long-chain duplicate graphs"
        )
    return labels


def simhash(df: DataFrame, text_col: str, id_col: str, bits: int = 16) -> DataFrame:
    """SimHash fingerprints: (id, simhash int). Bit j of the fingerprint
    is the sign of sum over tokens of (bit j of md5(token) ? +1 : -1).
    Uses the first `bits` bits (hex chars left-to-right, high nibble
    first); identical integer math is expressible in the DuckDB oracle.

    ``bits`` caps at 60: the fingerprint fold multiplies by
    pow(2.0, bits-1-j) cast to bigint — exact for any power of two up
    to 2^59 (powers of two are exact doubles and fit signed 64-bit);
    bits=64 would need 2^63, which overflows the cast (an ANSI-mode
    runtime error). The cap also keeps fingerprints non-negative,
    which the DuckDB oracle's division-based band twin relies on
    (the Spark side's shiftrightunsigned would handle a sign bit).
    """
    assert bits % 4 == 0 and bits <= 60
    toks = df.select(
        F.col(id_col), F.explode(tokens(F.lower(F.col(text_col)))).alias("tok")
    ).withColumn("th", F.md5(F.col("tok")))
    expanded = toks.select(
        id_col,
        "th",
        F.explode(F.sequence(F.lit(0), F.lit(bits - 1))).alias("j"),
    )
    # hex digit at char position j//4 (1-based substr), bit (3 - j%4).
    digit = F.conv(
        F.substring(F.col("th"), (F.floor(F.col("j") / 4) + 1).cast("int"), 1),
        16,
        10,
    ).cast("int")
    divisor = (
        F.when(F.col("j") % 4 == 0, 8)
        .when(F.col("j") % 4 == 1, 4)
        .when(F.col("j") % 4 == 2, 2)
        .otherwise(1)
    )
    bit = (F.floor(digit / divisor).cast("int") % 2).alias("bit")
    contrib = expanded.select(
        id_col,
        "j",
        F.when(bit == 1, F.lit(1)).otherwise(F.lit(-1)).alias("c"),
    )
    bitvals = contrib.groupBy(id_col, "j").agg(
        F.when(F.sum("c") > 0, F.lit(1)).otherwise(F.lit(0)).alias("b")
    )
    return bitvals.groupBy(id_col).agg(
        F.sum(
            F.col("b")
            * F.pow(F.lit(2.0), (F.lit(bits - 1) - F.col("j")).cast("double")).cast(
                "bigint"
            )
        )
        .cast("bigint")
        .alias("simhash")
    )


def simhash_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    bits: int = 16,
    max_hamming: int = 2,
) -> DataFrame:
    """SimHash near-dup pairs: pigeonhole banding over the fingerprint
    (4-bit bands — any pair within Hamming distance 3 shares at least
    one of the 4 bands exactly, so candidates come from equality joins,
    never a cross product), then exact popcount verification
    bit_count(xor) <= max_hamming. All integer math (div/mod/xor/
    popcount) — engine-portable, oracle-checkable.

    Same scale shape as MinHash-LSH: fingerprints are a per-doc
    aggregate, the band join keys are near-uniform fingerprint slices,
    and verification is arithmetic on the candidate pairs only. SimHash
    state per doc is one BIGINT — 64× smaller than a MinHash signature
    — which is why corpus pipelines keep both: SimHash for cheap
    near-exact dedup, MinHash for tunable Jaccard thresholds."""
    assert bits % 4 == 0
    n_bands = bits // 4
    if max_hamming >= n_bands:
        # Pigeonhole recall guarantee: B 4-bit bands catch every pair
        # within Hamming distance B-1 (the differing bits cannot touch
        # all bands). With max_hamming >= B the banding would SILENTLY
        # miss qualifying pairs (e.g. bits=8 → 2 bands misses
        # hamming=2 pairs that differ once per band) — the loud guard
        # mirrors lsh_bands' contract for MinHash.
        raise ValueError(
            f"max_hamming={max_hamming} needs > {max_hamming} bands for "
            f"the pigeonhole guarantee; bits={bits} gives only {n_bands}"
            f" — raise bits to at least {4 * (max_hamming + 1)}"
        )
    sh = simhash(df, text_col, id_col, bits)
    bands = sh.select(
        F.col(id_col),
        F.col("simhash"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        # integer shift, not double division: / loses
                        # low-order bits past 2^53 fingerprints
                        F.shiftrightunsigned(
                            F.col("simhash"), 4 * b
                        ).bitwiseAND(F.lit(15)).alias("band_val"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bv"),
    ).select(id_col, "simhash", F.col("bv.band"), F.col("bv.band_val"))
    a = bands.select(
        "band", "band_val",
        F.col(id_col).alias("id_a"), F.col("simhash").alias("sh_a"),
    )
    b = bands.select(
        "band", "band_val",
        F.col(id_col).alias("id_b"), F.col("simhash").alias("sh_b"),
    )
    return (
        a.join(b, ["band", "band_val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sh_a", "sh_b")
        .distinct()
        .withColumn(
            "hamming",
            F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))).cast("int"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )
