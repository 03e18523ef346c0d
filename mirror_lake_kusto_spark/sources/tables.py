"""Loaders for the driver's deterministic parquet fixtures (TESTDATA.md),
and :func:`read_parquet`, the package's reader for parquet files whose
schema the caller does not know.

Every fixture load goes through :func:`read_parquet`, which replays each
file's inferred schema on a repeat read, so a warm query plans without
Spark's schema-inference job.  Catalyst still handles predicate pushdown
and column pruning: callers filter/select on the returned DataFrame and
the scan narrows automatically (verify with ``.explain``: PushedFilters
/ ReadSchema).
"""

from __future__ import annotations

import os
import threading

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from . import fs as _fs

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

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load_table(spark: SparkSession, name: str, sf_dir: str | None = None) -> DataFrame:
    sf_dir = sf_dir or DEFAULT_SF_DIR
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    # Timestamps must compare bit-identically with the (UTC-naive) DuckDB
    # oracle regardless of the host session's zone.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        return _load_events(spark, path)
    return read_parquet(spark, path)


# Session confs that change the schema Spark infers from a footer.
_INFER_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
)
_SCHEMA_CACHE_MAX = 256
_schemas: dict[tuple, StructType] = {}
_schemas_lock = threading.Lock()


def read_parquet(spark: SparkSession, *paths: str) -> DataFrame:
    """``spark.read.parquet(*paths)`` without a repeat schema-inference job.

    A bare parquet read infers its schema with a one-task Spark job on
    every call (``SchemaMergeUtils.mergeSchemasInParallel``), even for a
    file it has read before.  The first read of a set of files stores
    Spark's own inferred schema, keyed by each file's path, size and
    modification time plus the confs in ``_INFER_CONFS``; a later read
    of the same key passes that schema to the reader and submits no
    job.  Spark makes file-source columns nullable on both paths, so
    the replayed schema is exact.  Each call builds a fresh relation
    (never a cached DataFrame), so self-joins keep distinct attribute
    ids.  Directories, globs and paths the ``fs`` layer cannot stat
    are inferred every time.
    """
    key = _schema_key(spark, paths)
    if key is None:
        return spark.read.parquet(*paths)
    schema = _schemas.get(key)
    if schema is not None:
        return spark.read.schema(schema).parquet(*paths)
    df = spark.read.parquet(*paths)
    with _schemas_lock:
        while len(_schemas) >= _SCHEMA_CACHE_MAX:
            del _schemas[next(iter(_schemas))]
        _schemas[key] = df.schema
    return df


def _schema_key(spark: SparkSession, paths: tuple[str, ...]) -> tuple | None:
    """Cache key for ``paths``, or None when one of them is a directory,
    a glob or cannot be stat'ed."""
    files = []
    for p in paths:
        if any(c in p for c in "*?[{"):
            return None
        f = _fs.get_fs(p)
        try:
            if f.isdir(p):
                return None
            files.append((f.normalize(p), f.getsize(p), f.getmtime_ms(p)))
        except (OSError, Py4JError):
            return None
    return (
        tuple(files),
        tuple(spark.conf.get(c, None) for c in _INFER_CONFS),
    )


def _load_events(spark: SparkSession, path: str) -> DataFrame:
    """Normalize ``events.ts`` to a microsecond TimestampType.

    The driver has shipped two generations of the fixture: parquet
    TIMESTAMP(NANOS) (which Spark's vectorized reader rejects — read
    nanos as LongType via spark.sql.legacy.parquet.nanosAsLong, then
    project to µs in the scan) and native µs TIMESTAMP / TIMESTAMP_NTZ
    (cast to session-zone TimestampType; identity under the UTC session
    zone set above).  Both paths stay columnar/distributed.  DuckDB
    reads the same file; oracle SQL casts to TIMESTAMP (µs) so both
    engines see identical values.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    # Left set for the session: the conf must still hold when the scan
    # actually executes (it only affects TIMESTAMP(NANOS) fields).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = read_parquet(spark, path)
    if isinstance(df.schema["ts"].dataType, LongType):
        # Integer DIV, not `/`: float division loses sub-µs precision at
        # 1e18-scale nanosecond longs.
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    return df.withColumn("ts", F.col("ts").cast("timestamp"))


def load_tables(spark: SparkSession, sf_dir: str | None = None) -> dict[str, DataFrame]:
    return {t: load_table(spark, t, sf_dir) for t in TABLES}


def register_views(spark: SparkSession, sf_dir: str | None = None) -> None:
    """Register every fixture table as a temp view for spark.sql queries."""
    for name, df in load_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(name)
