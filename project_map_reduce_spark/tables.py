"""Fixture-table access.

The driver pre-generates ten parquet tables per scale factor
(TESTDATA.md / FIXTURES.md). All queries load through here so that the
scan layer is one place: a parquet relation with Catalyst predicate
pushdown and column pruning. At cluster scale the same loader would
point at a partitioned table root; nothing else in the engine changes.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

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


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def footer_rows(path: str) -> int:
    """Exact row count from parquet FOOTERS — zero Spark jobs (the
    guide-§1.2 fewer-passes discipline for queries that only need N).

    Handles both fixture shapes: a single parquet file, or a directory
    of part files (the layout any real writer produces). The directory
    walk is O(files) driver-side metadata reads — fine for footers even
    at 100 TB table sizes (thousands of files, one ~KB footer each),
    and the same ledger a manifest-based table format serves from
    memory.
    """
    import glob

    import pyarrow.parquet as pq

    if os.path.isdir(path):
        parts = {
            f
            for f in glob.glob(os.path.join(path, "*.parquet"))
            + glob.glob(os.path.join(path, "part-*"))
            if os.path.isfile(f)
            and not os.path.basename(f).startswith(("_", "."))
            and not f.endswith(".crc")
        }
        if not parts:
            raise FileNotFoundError(f"no parquet part files under {path}")
        return sum(pq.ParquetFile(p).metadata.num_rows for p in parts)
    return pq.ParquetFile(path).metadata.num_rows


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown fixture table {name!r}; expected one of {TABLES}")
    if name == "events":
        # events.ts is TIMESTAMP(NANOS) parquet (FIXTURES.md). Spark ≥4.1
        # reads it natively as TIMESTAMP_NTZ (µs-truncated); older Sparks
        # reject the physical type unless the legacy long-nanos conf is on.
        # Set it for back-compat — a no-op where the native read exists.
        try:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        except Exception:  # removed conf on some future version — fine
            pass
    df = spark.read.parquet(table_path(sf_dir, name))
    if name == "events":
        ts_field = df.schema["ts"]
        if ts_field.dataType.simpleString() == "bigint":
            # Legacy long-nanos path: truncate to µs and build TIMESTAMP_NTZ
            # via timestamp_add from the epoch — timezone-independent, so
            # the value is byte-identical to DuckDB's naive µs view and to
            # the native NTZ read on newer Sparks.
            df = df.withColumn(
                "ts",
                F.timestamp_add(
                    "MICROSECOND",
                    F.expr("ts div 1000"),
                    F.lit("1970-01-01 00:00:00").cast("timestamp_ntz"),
                ),
            )
    return df

def local_rows(spark: SparkSession, rows, schema) -> DataFrame:
    """Driver-local report frame over ONE partition.

    ``createDataFrame(list)`` parallelizes over defaultParallelism — a
    handful of report rows becomes 32 local slices, and every action on
    the frame (the bench's noop sink included) dispatches 32 Python
    partition evaluations (~0.15 s of pure runner overhead, measured).
    Same pickle path, schema, and values with one slice."""
    return spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)


def register_views(
    spark: SparkSession, sf_dir: str, tables: tuple[str, ...] = TABLES
) -> None:
    """Register fixture tables as temp views (for spark.sql queries).

    Pass ``tables=`` to register only what the query reads — loading all ten
    tables for a one-table SQL query couples it to every fixture's health
    (and at cluster scale, to every table's metadata round-trip).
    """
    for name in tables:
        load(spark, sf_dir, name).createOrReplaceTempView(name)
