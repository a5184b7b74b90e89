"""SparkSession factory.

Defaults are tuned for the local[N] test/bench harness but every knob is
chosen for cluster-scale behavior too:

- AQE on (runtime partition coalescing, skew-join splitting, plan
  re-optimization) — the reference has no optimizer at all and a slow
  record blocks a whole worker (SURVEY.md §4.1); AQE is the Spark-native
  answer to both sizing and skew.
- Arrow on — every pandas-UDF crossing is Arrow-batched, never per-row.
- Session timezone pinned to UTC so timestamp semantics match the DuckDB
  oracle exactly (events.ts is ns-precision parquet, read as µs).
- shuffle.partitions sized to cores locally; on a real cluster AQE
  coalesces from a deliberately-high initial number, so we also leave
  ``spark.sql.adaptive.coalescePartitions.initialPartitionNum`` unset
  locally and document 2-3× total-cores for cluster deploys.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if cpus:
        return int(cpus)
    return os.cpu_count() or 8


def get_spark(
    app_name: str = "project_map_reduce_spark",
    *,
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine SparkSession.

    On a cluster you would drop ``.master(...)`` and submit with
    spark-submit; everything else carries over unchanged.
    """
    cores = cores or default_parallelism()
    shuffle_partitions = shuffle_partitions or cores
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # sum6 (functions/det.py) documents fail-loud DECIMAL overflow;
        # that contract holds only under ANSI semantics. Spark 4 defaults
        # to ANSI on, but a deployment that flips it would turn overflow
        # into silent nulls — pin it so the guarantee is ours, not
        # inherited.
        .config("spark.sql.ansi.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # ns-precision parquet timestamps must land as TimestampType (µs),
        # matching DuckDB's µs view of the same files.
        .config("spark.sql.parquet.int96RebaseModeInRead", "CORRECTED")
        .config("spark.sql.parquet.datetimeRebaseModeInRead", "CORRECTED")
        # Spark has no ns timestamp type; read INT64(NANOS) parquet columns
        # as raw longs — tables.load converts to µs TimestampType (matching
        # DuckDB's µs truncation of the same files).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    # Streaming state store: the HDFS-backed (in-heap) provider stays the
    # default — the round-7 A/B (BASELINE.md) measured it at sf0.1/sf1/sf10
    # for both state-heavy streams and it wins or ties wherever state fits
    # executor memory (RocksDB's native write path + changelog upload cost
    # ~1.8x on q_stream_totals at sf10). RocksDB is the right provider only
    # once per-partition state outgrows the heap; a deployment that needs
    # it passes the provider (and changelog checkpointing) via
    # ``extra_conf``. q_stream_state_sessions sets both for its own run,
    # because transformWithState requires RocksDB.
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
