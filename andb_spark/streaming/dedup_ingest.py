"""Continuous corpus ingest with dedup — streaming + LSH state combined.

The production shape of training-data collection: documents arrive
continuously; each micro-batch must be screened against everything
already accepted (exact and near-duplicate) BEFORE it lands in the
clean corpus, and the dedup state must advance incrementally — history
is never re-signed or re-shingled.

Maintained state (two managed engine tables):
- ``clean``  — accepted documents + their content hash (the exact-dup
  screen key, stored so history hashes are never recomputed).
- ``bands``  — the append-only LSH band table
  (operators/dedup.py::band_table): MinHash signatures are a pure
  per-document function, so each batch appends bands for ITS survivors
  only. A band table holds ``band_sig`` values of one MinHash
  definition: one written before the integer min-hashes (md5-string
  signatures) matches no new band and must be rebuilt from ``clean``
  with ``band_table``.

Per micro-batch, work is proportional to the batch:
1. in-batch exact dedup (min-id per content hash);
2. exact screen vs history — anti-join on the stored hash column;
3. near-dup screen vs history — the maintained band table provides
   candidates (incremental_minhash_pairs with history_bands), so only
   colliding history docs are ever re-shingled for verification;
4. in-batch near-dup — LSH pairs + connected components over the
   (small) batch, keep the min-id representative;
5. survivors append to ``clean``; their bands append to ``bands``.

Exactly-once: Structured Streaming replays epochs with the same
batch_id; the sink records a high-water mark in the clean table's
catalog entry and skips replayed batches. Both state tables' version
pointers and the mark commit in ONE atomic catalog save
(api.py::_overwrite_all) — a crash mid-batch leaves all three or none,
so replay can never find survivors in ``clean`` whose band rows were
lost. Commits are manifest APPENDS (api.py::_overwrite_all with
``appends``): each batch writes only its survivors' rows/bands as a
new segment and re-references all accumulated history — per-batch
commit I/O ∝ batch size, never ∝ history size. At 100 TB the two
state tables are bucketed by hash / (band, band_sig) so both screens
are shuffle-free on the history side (see SCALE.md §5).

The reference has no streaming and no dedup; this is the north-star
integration of both extension tracks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from andb_spark.operators import dedup as DD


def _stream_sid(checkpoint_dir: str) -> str:
    """Identity of a streaming query = its checkpoint location (the
    thing whose batch ids are monotonic). The exactly-once mark must be
    keyed on it: a FRESH checkpoint restarts batch ids at 0, and a bare
    integer mark would then classify every new batch as a replay and
    silently drop data until the old high-water mark is passed (the
    Delta txnAppId pattern)."""
    import hashlib
    import os

    return hashlib.md5(
        os.path.abspath(checkpoint_dir).encode()
    ).hexdigest()[:12]


def _already_applied(meta: dict, checkpoint_dir: str, batch_id: int) -> bool:
    mark = meta.get("last_stream_batch")
    if isinstance(mark, dict):
        return (
            mark.get("sid") == _stream_sid(checkpoint_dir)
            and mark.get("batch", -1) >= batch_id
        )
    if mark is not None:  # legacy integer mark (pre-sid catalogs)
        return mark >= batch_id
    return False


def _batch_mark(checkpoint_dir: str, batch_id: int) -> dict:
    return {
        "last_stream_batch": {
            "sid": _stream_sid(checkpoint_dir),
            "batch": batch_id,
        }
    }


def run_foreach_batch(
    stream: DataFrame,
    sink,
    checkpoint_dir: str,
    query_name: str,
    output_mode: str = "append",
) -> None:
    """Shared run harness for every foreachBatch ingest in the engine:
    start the query, drain the (finite) source, always stop. One copy —
    the replay-guard fix history shows what per-sink copies cost in
    drift."""
    q = (
        stream.writeStream.outputMode(output_mode)
        .foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .queryName(query_name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def _cast_to(df: DataFrame, like: DataFrame) -> DataFrame:
    """Project + cast ``df`` to ``like``'s exact schema — the append
    path's replacement for the type check a unionByName used to do.
    Loudness depends on ANSI mode (the Spark 4 default, asserted by
    the engine's test suite): a drifted source type fails the cast
    with CAST_INVALID_INPUT instead of landing NULLs."""
    return df.select(
        *[F.col(f.name).cast(f.dataType).alias(f.name)
          for f in like.schema.fields]
    )


def _survivors_of_batch(
    batch_df: DataFrame,
    clean_df: DataFrame,
    bands_df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int,
    rows_per_band: int,
    threshold: float,
) -> DataFrame:
    """The batch's accepted documents, with a ``text_hash`` column."""
    from pyspark.sql import Window

    # 0a. NULL-text rows carry no content to dedup or accept —
    # EXPLICITLY rejected here (md5(NULL) is NULL and a null join key
    # would otherwise make them vanish silently inside the semi join).
    # 0b. physical-row / same-id dedup: at-least-once delivery can put
    # the same row (or the same id with drifted text) in one trigger
    # twice; keep ONE row per doc identity, deterministically (min
    # text as the tie-break — same policy on every run/replay).
    one_per_id = Window.partitionBy(id_col).orderBy(text_col)
    hashed = (
        batch_df.filter(F.col(text_col).isNotNull())
        .withColumn("_rn", F.row_number().over(one_per_id))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
        .withColumn("text_hash", F.md5(F.col(text_col)))
    )

    # 1. HISTORY screens first — id, then stored hash. The id screen
    # ("first write per doc_id wins": a re-delivered id with edited
    # text must not append a second row, which would merge two texts'
    # shingles in later verifications) must run BEFORE the in-batch
    # min-id selection: a novel text delivered under both a taken id
    # and a fresh id must survive via the fresh id — selecting min-id
    # first would crown the taken id as the hash's only candidate and
    # then discard it, silently losing the text (r4 review finding).
    batch_u = hashed.join(
        clean_df.select(id_col), id_col, "left_anti"
    ).join(clean_df.select("text_hash"), "text_hash", "left_anti")

    # 2. in-batch exact dedup among the remaining candidates: min id
    # per content hash.
    keep = batch_u.groupBy("text_hash").agg(F.min(id_col).alias(id_col))
    batch_u = batch_u.join(keep, [id_col, "text_hash"], "left_semi")

    # 3. near-dup screen vs history via the maintained band table.
    near_hist = DD.incremental_minhash_pairs(
        clean_df,
        batch_u,
        text_col,
        id_col,
        num_hashes=num_hashes,
        rows_per_band=rows_per_band,
        threshold=threshold,
        history_bands=bands_df,
    ).select(F.col("id_b").alias(id_col)).distinct()
    batch_u = batch_u.join(near_hist, id_col, "left_anti")

    # 4. in-batch near-dup: pairs -> components -> min-id survivor.
    pairs = DD.minhash_lsh_pairs(
        batch_u, text_col, id_col,
        num_hashes=num_hashes, rows_per_band=rows_per_band,
        threshold=threshold,
    )
    removed = (
        DD.connected_components(pairs.select("id_a", "id_b"))
        .filter(F.col("node") != F.col("component_id"))
        .select(F.col("node").alias(id_col))
    )
    return batch_u.join(removed, id_col, "left_anti")


def stream_dedup_ingest(
    spark: SparkSession,
    docs_path: str,
    engine,
    clean_table: str,
    bands_table: str,
    checkpoint_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    rows_per_band: int = 2,
    threshold: float = 0.5,
    max_files_per_trigger: int | None = None,
    query_name: str = "andb_dedup_ingest",
) -> None:
    """Run the continuous dedup-ingest pipeline over a document stream
    until the (finite) source drains. ``clean_table`` and
    ``bands_table`` must exist (create them with the engine's DDL);
    first-seen documents win across batches — the accepted corpus is
    order-dependent in exactly the way a real ingest is."""
    schema = spark.read.parquet(docs_path).schema
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(docs_path)

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        meta = engine.catalog["tables"][clean_table]
        if _already_applied(meta, checkpoint_dir, batch_id):
            return  # checkpoint replay — already applied
        clean_df = engine._read_table(clean_table)
        bands_df = engine._read_table(bands_table)
        try:
            # Cast to the table schema, not just reorder columns: an
            # append lands as a segment file read side-by-side with
            # history, so a drifted source type (int vs bigint doc_id)
            # must fail/coerce HERE, not poison later multi-path reads.
            surv = DD._checkpoint_tracked(
                _cast_to(
                    _survivors_of_batch(
                        batch_df, clean_df, bands_df,
                        text_col, id_col, num_hashes, rows_per_band,
                        threshold,
                    ),
                    clean_df,
                )
            )
            new_bands = _cast_to(
                DD.band_table(
                    surv, text_col, id_col, num_hashes, rows_per_band
                ),
                bands_df,
            )
            # Single commit point: both tables' manifests AND the batch
            # high-water mark land in one atomic catalog save — a crash
            # leaves either the whole batch applied or none of it, never
            # survivors-in-clean with their band rows missing. APPENDS:
            # only the batch's survivors and their band rows hit disk;
            # accumulated history is re-referenced, not rewritten —
            # commit I/O is O(batch), the property that survives 100 TB
            # of accumulated corpus.
            engine._overwrite_all(
                appends={clean_table: surv, bands_table: new_bands},
                extra_meta={
                    clean_table: _batch_mark(checkpoint_dir, batch_id)
                },
            )
        finally:
            # this batch's checkpoints (survivors, connected-components
            # rounds) are consumed (or the batch failed mid-compute) —
            # release either way, before the next batch
            DD.release_caches()

    run_foreach_batch(stream, _sink, checkpoint_dir, query_name)


def stream_ivf_ingest(
    spark: SparkSession,
    embeddings_path: str,
    engine,
    assign_table: str,
    centroids: DataFrame,
    checkpoint_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_files_per_trigger: int | None = None,
    query_name: str = "andb_ivf_ingest",
) -> None:
    """Continuous ANN-index maintenance — the vector twin of
    ``stream_dedup_ingest``: embeddings arrive continuously and the IVF
    assignment table (vec_id → centroid_id, the index an ANN probe
    prunes by) stays current per micro-batch.

    Per batch: assign the batch's vectors to the broadcast centroids
    (operators/similarity.py::ivf_assign — the big side never
    shuffles), drop ids already assigned (first write wins, so a
    re-delivered vector cannot flip cells between batches), append.
    Exactly-once via the same batch-id high-water mark + atomic
    versioned write as the dedup ingest. At 100 TB the assignment
    table is bucket-partitioned by centroid_id, so each appended batch
    lands in the cells a probe will later prune to."""
    from andb_spark.operators.similarity import ivf_assign

    schema = spark.read.parquet(embeddings_path).schema
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(embeddings_path)

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        meta = engine.catalog["tables"][assign_table]
        if _already_applied(meta, checkpoint_dir, batch_id):
            return  # checkpoint replay — already applied
        current = engine._read_table(assign_table)
        # Within-batch first-write-wins (mirrors the dedup/multimodal
        # sinks): at-least-once delivery can put the same vec_id with
        # DRIFTED embeddings in one trigger, and ivf_assign's
        # per-id max would blend both vectors' scores into an
        # assignment corresponding to no single delivered vector.
        # Deterministic pick: min vector (arrays order lexicographically).
        from pyspark.sql import Window

        one_per_id = Window.partitionBy(id_col).orderBy(F.col(vec_col))
        batch_one = (
            batch_df.withColumn("_rn", F.row_number().over(one_per_id))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        assigned = _cast_to(
            ivf_assign(batch_one, centroids, id_col=id_col, vec_col=vec_col)
            .join(current.select(id_col), id_col, "left_anti"),
            current,
        )
        # Append-only commit: the batch's new assignments are the only
        # write; the accumulated assignment table is re-referenced.
        engine._overwrite_all(
            appends={assign_table: assigned},
            extra_meta={assign_table: _batch_mark(checkpoint_dir, batch_id)},
        )

    run_foreach_batch(stream, _sink, checkpoint_dir, query_name)


def stream_multimodal_ingest(
    spark: SparkSession,
    files_dir: str,
    engine,
    meta_table: str,
    checkpoint_dir: str,
    glob: str | None = None,
    fake_decode: bool = False,
    max_files_per_trigger: int | None = None,
    query_name: str = "andb_multimodal_ingest",
) -> None:
    """Continuous multimodal ingest — the binaryFile twin of
    ``stream_dedup_ingest``: media files land in a directory, each
    micro-batch decodes the new files' metadata (operators/multimodal
    ::extract_image_meta — real header parse, Arrow-batched) and
    appends it to a managed metadata table, first write per doc_id
    wins. Exactly-once via the same batch-id high-water mark + atomic
    versioned write as the other ingests.

    Scale: the file stream assigns whole files to tasks; decode work
    per batch ∝ new files; the metadata table is the only state and is
    append-only. At 100 TB the payload never lands anywhere — only its
    k-bytes of decoded metadata do (the binaryFile reader prunes the
    content column for downstream metadata-only readers)."""
    from andb_spark.operators.multimodal import extract_image_meta

    # Schema must be fixed for readStream: take it from a batch read of
    # the same source (cheap — listing + footer only).
    schema = spark.read.format("binaryFile").load(files_dir).schema
    reader = spark.readStream.format("binaryFile").schema(schema)
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.load(files_dir)

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        meta = engine.catalog["tables"][meta_table]
        if _already_applied(meta, checkpoint_dir, batch_id):
            return  # checkpoint replay — already applied
        from andb_spark.sources import doc_id_from_path

        binary_df = batch_df.select(
            doc_id_from_path(F.col("path")).alias("doc_id"),
            F.col("length").alias("n_bytes"),
            F.col("content").alias("payload"),
            F.col("path"),
        )
        # Two files in the SAME batch can extract the same doc_id
        # (img_001.bmp vs thumb_001.bmp): dedupe within the batch
        # BEFORE decode and the anti-join — first path in lexical order
        # wins, matching the table's "first write per doc_id" contract.
        from pyspark.sql import Window

        one_per_id = Window.partitionBy("doc_id").orderBy("path")
        binary_df = (
            binary_df.withColumn("_rn", F.row_number().over(one_per_id))
            .filter(F.col("_rn") == 1)
            .drop("_rn", "path")
        )
        # Anti-join BEFORE the decode stage: Spark cannot push the
        # join below mapInPandas, so decoding first would run the real
        # codec on every re-delivered file only to discard the row —
        # per-batch decode work must track genuinely-NEW files.
        current = engine._read_table(meta_table)
        binary_df = binary_df.join(
            current.select("doc_id"), "doc_id", "left_anti"
        )
        fresh = _cast_to(
            extract_image_meta(binary_df, fake=fake_decode), current
        )
        # Append-only commit: decode output for genuinely-new files is
        # the only write; prior batches' metadata is re-referenced.
        engine._overwrite_all(
            appends={meta_table: fresh},
            extra_meta={meta_table: _batch_mark(checkpoint_dir, batch_id)},
        )

    run_foreach_batch(stream, _sink, checkpoint_dir, query_name)
