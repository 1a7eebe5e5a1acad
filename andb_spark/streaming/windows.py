"""Windowed aggregations over event streams — batch and streaming twins.

Each aggregation is defined ONCE as a DataFrame transform and applied
to either a batch scan or a ``readStream`` source; Structured
Streaming's contract (incremental execution of the same logical plan)
guarantees the results agree on finite input, which is exactly what the
DuckDB oracle checks via the batch twin.

Watermarks bound state at scale: with ``withWatermark('ts', d)`` the
state store drops windows older than the watermark — mandatory for an
unbounded 100 TB/day stream, a no-op for the finite fixture.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def tumbling_agg(events: DataFrame, width: str = "1 hour") -> DataFrame:
    """Per event_type counts/sums over non-overlapping windows."""
    return (
        events.groupBy(
            F.window("ts", width).alias("w"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
    )


def sliding_agg(
    events: DataFrame, width: str = "1 hour", slide: str = "30 minutes"
) -> DataFrame:
    """Overlapping windows: each event lands in width/slide windows."""
    return (
        events.groupBy(F.window("ts", width, slide).alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            # round(sum,2)/n: exact for 2-decimal inputs — see
            # workloads/relational.py q_gapfill note on boundary flips
            F.round(
                F.round(F.sum("value"), 2) / F.count(F.lit(1)), 6
            ).alias("avg_value"),
        )
        .select(F.col("w.start").alias("window_start"), "n", "avg_value")
    )


def session_agg(events: DataFrame, gap: str = "15 minutes") -> DataFrame:
    """Per-user session windows: a session closes after `gap` of
    inactivity. Works identically in batch and streaming
    (``F.session_window``)."""
    return (
        events.groupBy(
            F.session_window("ts", gap).alias("w"),
            "user_id",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("session_value"),
        )
        .select(
            F.col("w.start").alias("session_start"),
            "user_id",
            "n_events",
            "session_value",
        )
    )


def stream_source(
    spark: SparkSession, events_path: str, watermark: str | None = "1 hour"
) -> DataFrame:
    """``readStream`` over the parquet events fixture, with event-time
    watermark applied. At scale the source would be Kafka/Delta; every
    transform downstream is unchanged — that is the point of Structured
    Streaming's unified batch/stream API."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = spark.read.parquet(events_path).schema
    if os.path.isdir(events_path):
        # directory-style parquet dataset: stream the directory itself.
        # (A pathGlobFilter built from the DIRECTORY name would match
        # no leaf part-file and silently produce an EMPTY stream.)
        stream = (
            spark.readStream.schema(schema)
            .format("parquet")
            .load(events_path)
        )
    else:
        # single-file fixture: the file-stream source wants a
        # directory, so point it at the parent with a glob filter
        # selecting just the events file.
        base_dir, file_name = os.path.split(events_path)
        stream = (
            spark.readStream.schema(schema)
            .format("parquet")
            .option("pathGlobFilter", file_name)
            .load(base_dir)
        )
    # The fixture stores ts as raw nanos (see catalog.load_table) —
    # integer-divide to micros before watermarking.
    if isinstance(schema["ts"].dataType, T.LongType):
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif isinstance(schema["ts"].dataType, T.TimestampNTZType):
        # value-preserving under the UTC session TZ; watermarks require
        # TimestampType, not NTZ.
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    if watermark is not None:
        stream = stream.withWatermark("ts", watermark)
    return stream


def run_stream(
    out: DataFrame,
    query_name: str = "andb_stream_out",
    output_mode: str = "complete",
) -> DataFrame:
    """Run a streaming DataFrame to completion on its finite source via
    a memory sink; return the materialized result table."""
    spark = out.sparkSession
    q = (
        out.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(query_name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(query_name)


def stream_into_table(
    out: DataFrame,
    engine,
    table: str,
    keys: list[str],
    checkpoint_dir: str,
    query_name: str = "andb_stream_ingest",
) -> None:
    """Continuous ingest: a streaming aggregate maintained inside a
    managed engine table via ``foreachBatch`` — the incremental
    materialized-view path (REFRESH MATERIALIZED VIEW is the batch
    fallback; this keeps the same table current per micro-batch).

    Exactly-once effect from two halves:
    - Structured Streaming's checkpoint replays each epoch with the SAME
      batch_id after failure;
    - the sink is idempotent per batch_id — replayed batches are skipped
      via the high-water mark recorded in the table's catalog entry, and
      the upsert itself lands through the engine's atomic versioned
      write (readers see the pre- or post-batch table, never a mix).

    The per-batch upsert is a copy-on-write manifest commit
    (api.py::_upsert): in `update` output mode each micro-batch emits
    only re-aggregated keys, and only the parquet files holding those
    keys rewrite — compute AND commit I/O per batch are proportional
    to changed keys, never to accumulated table size (state lives in
    the streaming state store, bounded by the watermark). With
    ``andb.matview_autorefresh`` on, each commit refreshes the
    materialized views over the table, as any other base commit does."""
    # Shared sid-keyed replay guard (dedup_ingest): the mark must be
    # keyed on the checkpoint identity or a fresh checkpoint (batch ids
    # restarting at 0) silently discards every new batch.
    from andb_spark.streaming.dedup_ingest import (
        _already_applied,
        _batch_mark,
    )

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        meta = engine.catalog["tables"][table]
        if _already_applied(meta, checkpoint_dir, batch_id):
            return  # checkpoint replay — already applied
        # Copy-on-write upsert: only the files holding re-aggregated
        # keys rewrite; the rest of the rollup table is re-referenced.
        # The batch mark commits in the same atomic catalog save as the
        # manifest, so a crash can never persist one without the other.
        engine._upsert(
            table,
            batch_df,
            keys,
            extra_meta={table: _batch_mark(checkpoint_dir, batch_id)},
        )

    from andb_spark.streaming.dedup_ingest import run_foreach_batch

    run_foreach_batch(
        out, _sink, checkpoint_dir, query_name, output_mode="update"
    )


def stream_events(
    spark: SparkSession,
    events_path: str,
    transform,
    watermark: str = "1 hour",
    query_name: str = "andb_stream_out",
    output_mode: str = "complete",
) -> DataFrame:
    """Source → transform → memory sink, run to completion (the finite
    fixture terminates processAllAvailable)."""
    out = transform(stream_source(spark, events_path, watermark))
    return run_stream(out, query_name, output_mode)
