"""Table loading — the engine's scan layer.

Fixtures are one parquet file per table (TESTDATA.md). At 100 TB each
"table" is a directory of many parquet files, possibly hive-partitioned;
``spark.read.parquet`` handles both identically, and Catalyst gives us
predicate pushdown + column pruning + partition pruning for free — the
reference (dask_cudf.read_parquet) had to do row-group filtering by hand
(SURVEY.md §4.1).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def table_path(sf_dir: str, name: str) -> str:
    """Resolve a table name to its parquet path inside a fixture dir."""
    return os.path.join(sf_dir, f"{name}.parquet")


# Opt-in scan cache (bench protocol): fixtures are immutable, so the
# suite can share one cached DataFrame per table instead of re-creating
# (and re-analyzing) the scan per query — measured ~17% off repeated-
# query wall time at sf0.1. Keyed by (sessionId, sf_dir, name) so a new
# driver session never sees another session's plans.
_TABLE_CACHE: dict[tuple, DataFrame] = {}
_CACHE_ENABLED = False


def enable_table_cache(enabled: bool = True) -> None:
    global _CACHE_ENABLED
    _CACHE_ENABLED = enabled
    if not enabled:
        _TABLE_CACHE.clear()


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if _CACHE_ENABLED:
        # applicationId, not id(spark): id() can be reused after the old
        # session is GC'd, which would serve plans bound to a dead session
        key = (spark.sparkContext.applicationId, sf_dir, name)
        if key not in _TABLE_CACHE:
            # NOTE (round 5): the fixture files are ONE row group each,
            # so this cached frame is 1-2 partitions and narrow stages
            # run near-serial. A suite-wide repartition-to-cores here
            # was tried and MEASURED A NET LOSS at sf0.1 (+0.3-0.5 s on
            # nearly every query: 32-way task overhead dwarfs the CPU
            # gain when a stage's work is sub-100 ms; suite 39.4 →
            # 69.0 s). Only explode-heavy passes win, and those
            # repartition inside the query (q110, q114). At deployment
            # scale the scan has many splits and none of this applies.
            df = _load_table_uncached(spark, sf_dir, name).cache()
            df.count()  # materialize once
            _TABLE_CACHE[key] = df
        return _TABLE_CACHE[key]
    return _load_table_uncached(spark, sf_dir, name)


def source_size_bytes(sf_dir: str, name: str) -> int:
    """On-disk size of a table's source parquet (file or directory).

    The stable input for size-based plan gates: Catalyst's
    ``sizeInBytes`` for the same scan swings with session cache state
    (a cached table substitutes its uncompressed InMemoryRelation into
    every matching plan), while file bytes measure the data itself.
    At 100 TB this is one namenode/object-store stat, not a scan."""
    path = table_path(sf_dir, name)
    if os.path.isfile(path):
        return os.path.getsize(path)
    if not os.path.isdir(path):
        # a typo'd fixture dir must surface, not silently read as
        # "0 bytes" and send every size gate down the small-input branch
        raise FileNotFoundError(f"no parquet at {path}")
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total


def with_event_time(df: DataFrame) -> DataFrame:
    """Attach the canonical event-time columns to an events frame.

    The fixture's on-disk encoding of ``ts`` has changed across driver
    regenerations (TIMESTAMP(NANOS)-as-int64 → TIMESTAMP_MICROS), so the
    loader adapts to whatever Spark actually inferred instead of assuming
    one encoding:

    - int64 (nanosAsLong path): ``ts_us = ts DIV 1000``
    - TIMESTAMP_NTZ (parquet micros, isAdjustedToUTC=false): wall-clock
      is UTC by fixture contract; ``timestampdiff`` from the NTZ epoch is
      session-timezone independent (pinned by the non-UTC parity test)
    - TIMESTAMP (ltz): ``unix_micros`` is already an instant

    Every query keys time arithmetic off ``ts_us`` (bigint µs — the unit
    DuckDB's ``epoch_us(ts)`` oracle produces under ALL encodings) and
    event-time windows off ``ts_t``. Works on batch and streaming frames.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, TimestampNTZType, TimestampType

    ts_type = df.schema["ts"].dataType
    if isinstance(ts_type, LongType):
        ts_us = F.expr("ts DIV 1000")
    elif isinstance(ts_type, TimestampNTZType):
        ts_us = F.expr(
            "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
        )
    elif isinstance(ts_type, TimestampType):
        ts_us = F.unix_micros(F.col("ts"))
    else:  # pragma: no cover — new fixture encoding needs a new branch
        raise TypeError(f"unsupported events.ts type: {ts_type}")
    return df.withColumn("ts_us", ts_us).withColumn(
        "ts_t", F.timestamp_micros(F.col("ts_us"))
    )


def _load_table_uncached(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        # Older fixtures wrote events.ts as parquet TIMESTAMP(NANOS),
        # which Spark rejects unless read as int64 nanoseconds; the conf
        # is harmless under the current micros encoding. It must be set
        # here (the driver owns the session, we can't pre-configure it);
        # guarded so concurrent loads don't thrash an already-set value.
        key = "spark.sql.legacy.parquet.nanosAsLong"
        if spark.conf.get(key, "false") != "true":
            spark.conf.set(key, "true")
        return with_event_time(spark.read.parquet(table_path(sf_dir, name)))
    return spark.read.parquet(table_path(sf_dir, name))


def load_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES
) -> dict[str, DataFrame]:
    """Load fixture tables as a dict of DataFrames (lazy scans)."""
    return {name: load_table(spark, sf_dir, name) for name in names}
