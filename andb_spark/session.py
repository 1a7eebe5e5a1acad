"""SparkSession factory.

Replaces the reference's bootstrap (`init_all_database_components`,
andb/initializer.py:51-63): instead of wiring a buffer manager, WAL
recovery and pickled catalogs, an analytics session here is a
SparkSession with OLAP-appropriate defaults.

Scale design (tested on local[N], designed for a 1000-executor cluster):
- AQE on: runtime coalescing, skew-join splitting, dynamic join strategy.
- shuffle.partitions sized to cores locally; on a real cluster AQE's
  coalescing makes the initial number far less critical.
- Arrow enabled for the (rare) pandas-UDF paths and toPandas.
- UTC session timezone so timestamps agree with the UTC-naive parquet
  fixtures and the DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Number of local cores the driver harness gives us.
_DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def build_session(
    app_name: str = "andb_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or get) a SparkSession with the engine's defaults."""
    master = master or f"local[{_DEFAULT_CPUS}]"
    shuffle_partitions = shuffle_partitions or int(_DEFAULT_CPUS)
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Fixture timestamps are written without UTC adjustment; read them
        # as the engine's TimestampType (session TZ is UTC) rather than
        # TIMESTAMP_NTZ, which watermarks/windows reject.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.driver.memory", os.environ.get("ANDB_SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def get_session() -> SparkSession:
    """Active session if one exists (e.g. the driver's), else build one."""
    active = SparkSession.getActiveSession()
    if active is not None:
        return active
    return build_session()


def tune_for_session(spark: SparkSession) -> SparkSession:
    """Apply the engine's runtime-settable defaults to a session we did
    not build (the driver hands us one). Only touches dynamic confs."""
    # NOTE: timestamps collected via plain collect() are rendered in the
    # PYTHON PROCESS's OS timezone (not the session TZ) — the driver and
    # oracle must run on a UTC host for timestamp-valued outputs to
    # hash-match DuckDB's UTC-naive values (true in this environment).
    for k, v in (
        ("spark.sql.adaptive.enabled", "true"),
        ("spark.sql.adaptive.coalescePartitions.enabled", "true"),
        ("spark.sql.adaptive.skewJoin.enabled", "true"),
        ("spark.sql.session.timeZone", "UTC"),
        ("spark.sql.execution.arrow.pyspark.enabled", "true"),
        # events.parquet carries INT64 nanos timestamps; read as long
        # (converted in catalog.load_table) instead of erroring.
        ("spark.sql.legacy.parquet.nanosAsLong", "true"),
        # un-adjusted parquet timestamps → TimestampType, not NTZ
        ("spark.sql.parquet.inferTimestampNTZ.enabled", "false"),
        # A managed table's read names every manifest entry as a root
        # path, and the manifest grows by one entry per commit until
        # OPTIMIZE folds it. Past the default 32 roots Spark lists them
        # with a Spark job of one task per path; on local disk (local[4])
        # that took 0.60 / 1.63 / 5.48 / 17.0 s at 33 / 256 / 1024 /
        # 4096 paths, against 0.06 / 0.11 / 0.24 / 0.88 s listed on the
        # driver. 4096 is the largest manifest measured.
        ("spark.sql.sources.parallelPartitionDiscovery.threshold", "4096"),
    ):
        try:
            spark.conf.set(k, v)
        except Exception:  # conf may be static in this session; best effort
            pass
    return spark
