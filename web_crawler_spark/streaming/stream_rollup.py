"""Structured Streaming surface: event rollups as a stream.

- ``rollup_stream``: event-time tumbling-window counts/sums with a watermark
  for late rows — the streaming twin of ``analytics.relational.hourly_rollup``
  (the same ``relational.event_totals`` aggregates over ``window()``
  instead of ``date_trunc``, ``readStream`` instead of ``read``).
- ``session_stream``: per-user session windows — the streaming twin of
  ``analytics.relational.session_rollup``: its ``relational.user_sessions``
  plan plus a watermark.

Batch/stream parity is the test contract: running the streaming query over a
static directory must produce exactly the batch rollup (test_streaming.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..analytics.relational import event_totals, user_sessions

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

WINDOW = "1 hour"      # rollup_stream's tumbling window: hourly_rollup's hour
WATERMARK = "2 hours"  # late-row tolerance of both streams


def _events(spark: SparkSession, source_dir: str) -> DataFrame:
    return (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .parquet(source_dir)
        .withWatermark("ts", WATERMARK)
    )


def rollup_stream(spark: SparkSession, source_dir: str) -> DataFrame:
    """Windowed event-time rollup over a file stream (late rows tolerated up
    to WATERMARK; state is bounded — mandatory for an unbounded run)."""
    return (
        _events(spark, source_dir)
        .groupBy(F.window("ts", WINDOW).alias("win"), "event_type")
        .agg(*event_totals())
        .select(
            F.col("win.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def session_stream(spark: SparkSession, source_dir: str) -> DataFrame:
    """Per-user session windows over the event stream: consecutive events of
    a user merge into one session while each arrives within the gap of the
    previous; the session closes (and emits, in append mode) once the
    watermark passes its end. Built-in ``session_window`` — Spark keeps one
    merged-window state entry per open session, so state is bounded by the
    number of concurrently-open sessions, not by stream length."""
    return user_sessions(_events(spark, source_dir)).select(
        "user_id",
        F.col("sw.start").alias("session_start"),
        F.col("sw.end").alias("session_end"),
        "n_events",
        "total_value",
    )
