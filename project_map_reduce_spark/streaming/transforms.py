"""Batch/stream-unified event-time transforms.

Each function takes an events-shaped DataFrame (batch or streaming —
Spark's unified API makes the plan identical) and returns the
aggregated result. The streaming analog of the reference's
count-based completion barrier (Manager.java:293-311) is the
watermark: completeness is declared per event-time window instead of
by counting gathered messages.

State-size discipline at 100 TB: every streaming aggregation here is
keyed by (window|session, low-cardinality key) and must be run with a
watermark (``with_watermark``) so state is evicted; dedup keys expire
with the watermark too.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from project_map_reduce_spark.functions.det import r6d


def ts_ltz(df: DataFrame) -> DataFrame:
    """``df`` with its ``ts`` column as TIMESTAMP (LTZ).

    Spark's watermark tracker only accepts LTZ; the events fixture reads
    as TIMESTAMP_NTZ on Spark ≥4.1, so cast here. The engine session
    pins the zone to UTC (session.py), making the cast value-exact."""
    if df.schema["ts"].dataType.simpleString() == "timestamp_ntz":
        return df.withColumn("ts", F.to_timestamp_ltz("ts"))
    return df


def with_watermark(df: DataFrame, delay: str = "10 minutes") -> DataFrame:
    """Declare allowed event-time lateness (state-eviction horizon) on
    ``ts`` (cast to LTZ first, see ``ts_ltz``)."""
    return ts_ltz(df).withWatermark("ts", delay)


def tumbling_counts(events: DataFrame) -> DataFrame:
    """1-hour tumbling window: count + sum(value) by event_type."""
    w = F.window("ts", "1 hour")
    return events.groupBy(w, "event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        r6d(F.sum("value"), "sum_value"),
    ).select(
        F.col("window.start").alias("window_start"),
        F.col("window.end").alias("window_end"),
        "event_type",
        "n_events",
        "sum_value",
    )


def sliding_counts(events: DataFrame) -> DataFrame:
    """1-hour window sliding every 30 minutes (each event in 2 windows)."""
    w = F.window("ts", "1 hour", "30 minutes")
    return events.groupBy(w, "event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        r6d(F.sum("value"), "sum_value"),
    ).select(
        F.col("window.start").alias("window_start"),
        F.col("window.end").alias("window_end"),
        "event_type",
        "n_events",
        "sum_value",
    )


def session_stats(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Session windows per user with a 30-minute inactivity gap.

    Session end = last event + gap (Spark ``session_window`` semantics;
    the batch oracle's gaps-and-islands SQL reproduces exactly that)."""
    w = F.session_window("ts", gap)
    return events.groupBy(w, "user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        r6d(F.sum("value"), "sum_value"),
    ).select(
        "user_id",
        F.col("session_window.start").alias("session_start"),
        F.col("session_window.end").alias("session_end"),
        # µs-exact difference floored to whole seconds (unix_timestamp
        # would truncate each endpoint first — off-by-one vs the oracle;
        # timestamp_diff is NTZ-safe where unix_micros is LTZ-only).
        F.expr(
            "timestampdiff(MICROSECOND, session_window.start, session_window.end)"
            " div 1000000"
        ).alias("duration_secs"),
        "n_events",
        "sum_value",
    )


def dedup_events(events: DataFrame) -> DataFrame:
    """Exactly-once repair for at-least-once delivery: drop duplicate
    event_ids (the dedup the reference lacks — its visibility-timeout
    redelivery can double-count results, SURVEY.md §1.4). Batch form;
    under streaming the seen-keys state is unbounded — use
    ``dedup_events_within_watermark`` there."""
    return events.dropDuplicates(["event_id"])


def dedup_events_within_watermark(events: DataFrame) -> DataFrame:
    """Streaming dedup with BOUNDED state: redelivery only happens within
    the delivery horizon (the reference's visibility timeout), so the
    seen-keys state only needs to span the watermark delay —
    ``dropDuplicatesWithinWatermark`` evicts everything older. State is
    O(keys per horizon), not O(all keys ever) — the difference between a
    streaming job that runs for a year and one that OOMs in a week.
    Input must already carry a watermark (``with_watermark``).

    Driver-hash-checked end to end by Q100
    (plans/streaming_shaped.py::q_stream_dedup_watermark), including
    the exact late-filter/state-expiry boundary semantics."""
    return events.dropDuplicatesWithinWatermark(["event_id"])
