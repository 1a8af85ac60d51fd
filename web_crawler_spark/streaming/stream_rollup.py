"""Structured Streaming surface: event rollups as a stream.

- ``rollup_stream``: event-time tumbling-window counts/sums with a watermark
  for late rows — the streaming twin of ``analytics.relational.hourly_rollup``
  (same plan shape, ``readStream`` instead of ``read``).
- ``session_stream``: per-user session windows — the streaming twin of
  ``analytics.relational.session_rollup``.

Batch/stream parity is the test contract: running the streaming query over a
static directory must produce exactly the batch rollup (test_streaming.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType(), True),
        T.StructField("ts", T.TimestampType(), True),
        T.StructField("user_id", T.LongType(), True),
        T.StructField("event_type", T.StringType(), True),
        T.StructField("value", T.DoubleType(), True),
        T.StructField("props", T.StringType(), True),
    ]
)


def rollup_stream(
    spark: SparkSession,
    source_dir: str,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Windowed event-time rollup over a file stream (late rows tolerated up
    to *watermark*; state is bounded — mandatory for an unbounded run)."""
    ev = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .parquet(source_dir)
    )
    return (
        ev.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            (F.sum(F.round(F.col("value") * F.lit(1e6), 0).cast("long")).cast("double") / F.lit(1e6)).alias("total_value"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def session_stream(
    spark: SparkSession,
    source_dir: str,
    gap: str = "10 minutes",
    watermark: str = "35 days",
) -> DataFrame:
    """Per-user session windows over the event stream: consecutive events of
    a user merge into one session while each arrives within *gap* of the
    previous; the session closes (and emits, in append mode) once the
    watermark passes its end. Built-in ``session_window`` — Spark keeps one
    merged-window state entry per open session, so state is bounded by the
    number of concurrently-open sessions, not by stream length."""
    ev = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .parquet(source_dir)
    )
    return (
        ev.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("sw"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            (F.sum(F.round(F.col("value") * F.lit(1e6), 0).cast("long")).cast("double") / F.lit(1e6)).alias("total_value"),
        )
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )

