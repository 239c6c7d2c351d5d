"""Table loading (SURVEY.md §2.1 scans) and the table catalog.

One parquet file per table per scale-factor directory (TESTDATA.md).
``table()`` reads it columnar, vectorized and pushdown-capable; Catalyst
prunes columns and pushes predicates into the scan, so callers never
pre-filter.

The table catalog. A bare ``spark.read.parquet`` infers the schema from
the file footers, and that inference is a Spark job (``parquet at ...``)
on every read: about 0.1 s per table reference on a 4-core host, most
of it driver idle. :func:`read_parquet` infers a file set's schema once,
caches it, and hands it to every later read as
``spark.read.schema(cached)``, which starts no job and plans the same
scan. The key is the value of each reader conf that changes how parquet
types map to Spark types (``_SCHEMA_CONFS``; ``nanosAsLong`` decides the
type of ``events.ts``) plus :func:`file_key` — (realpath, size,
mtime_ns) — of every path in order, so a rewritten file is inferred
afresh. The key names files only, because a directory's mtime does not
change when a file inside it is rewritten: a directory path raises
``ValueError``, ``table()`` reads a directory table bare, and operator
stores and sink read-backs (directories) are read bare too.
:mod:`hdfs_mr_spark.stats` keys the corpus statistics on the same
``file_key``. At 100 TB this cache is the metastore: schema and table
statistics are looked up once per table version instead of being
re-derived from footers by every query, and a partitioned table's
version comes from the metastore, not from a directory stat.
"""

from __future__ import annotations

import os
import stat

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

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

# Reader confs that change the inferred Spark type of a parquet column
# (or, for mergeSchema, which footers the inference reads).
_SCHEMA_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
)

_SCHEMAS: dict[tuple, StructType] = {}


def file_key(path: str) -> tuple:
    """(realpath, size, mtime_ns) of one file: changes whenever the file
    is rewritten. A directory raises ``ValueError`` (its mtime does not
    move when a file inside it is rewritten)."""
    real = os.path.realpath(path)
    st = os.stat(real)
    if stat.S_ISDIR(st.st_mode):
        raise ValueError(f"table catalog keys files, not directories: {path}")
    return (real, st.st_size, st.st_mtime_ns)


def read_parquet(spark: SparkSession, *paths: str) -> DataFrame:
    """``spark.read.parquet(*paths)`` for parquet FILES, with the schema
    inferred once per catalog key (module docstring) and supplied to
    every later read, which then starts no inference job."""
    key = (
        tuple(spark.conf.get(c) for c in _SCHEMA_CONFS),
        tuple(file_key(p) for p in paths),
    )
    if key in _SCHEMAS:
        return spark.read.schema(_SCHEMAS[key]).parquet(*paths)
    df = spark.read.parquet(*paths)
    _SCHEMAS[key] = df.schema
    return df


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    # Timestamp semantics must match the (timezone-naive) DuckDB oracle no
    # matter what session the driver hands us.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        # The driver may hand us a session without this conf; it is a
        # runtime-settable SQLConf, so set it here before the read.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = f"{sf_dir}/{name}.parquet"
    if os.path.isfile(path):
        df = read_parquet(spark, path)
    else:  # a directory table has no catalog entry (module docstring)
        df = spark.read.parquet(path)
    if name == "events":
        from pyspark.sql import functions as F
        from pyspark.sql.types import LongType, TimestampNTZType, TimestampType

        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, TimestampNTZType):
            # Parquet TIMESTAMP(MICROS, isAdjustedToUTC=false) arrives as
            # TIMESTAMP_NTZ in Spark 4. Every downstream query (unix_micros,
            # window ranges, watermarks) is written against TIMESTAMP; with
            # the session timezone pinned to UTC above, the NTZ->LTZ cast is
            # instant-preserving and matches DuckDB's naive read bit-for-bit.
            # Explicit TimestampType, not the "timestamp" string: the
            # string resolves via spark.sql.timestampType, and a session
            # pinned to TIMESTAMP_NTZ would make the cast a no-op.
            df = df.withColumn("ts", df["ts"].cast(TimestampType()))
        elif isinstance(ts_type, LongType):
            # ts is TIMESTAMP(NANOS) parquet, read as nanos-long via
            # spark.sql.legacy.parquet.nanosAsLong; normalize to µs
            # timestamp — same truncation DuckDB applies casting
            # TIMESTAMP_NS -> TIMESTAMP, so oracle comparisons see
            # identical instants (FIXTURES.md). Integer `div`, not `/`:
            # double division loses precision on ~1e18 ns epochs.
            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        # else: already TIMESTAMP(MICROS); both engines read it natively.
    return df


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: table(spark, sf_dir, name) for name in TABLES}


def fan_out(df: DataFrame, n: int | None = None) -> DataFrame:
    """Repartition a small-but-expensive frame to engage every core.

    The fixture tables arrive as ONE parquet row group -> one input
    partition, which serializes any per-row-expensive downstream work
    (interpreted folds, pair-join probes) onto a single task: measured
    10x on the 2M-pair cosine join (22 s -> 2 s) just from this. The
    tiny round-robin shuffle is order-insensitive, so set-semantics
    results are unchanged. At 100 TB inputs arrive pre-split and this
    becomes a no-op decision; the call sites document where parallelism
    is load-bearing.
    """
    return df.repartition(n or df.sparkSession.sparkContext.defaultParallelism)
