"""Stream-stream interval join: the attribution pattern (click → purchase
within a time bound) over the events plane.

The reference has no streaming surface — its progress plane is a polled dict
(``Crawler/app.py:565-589``); this module extends the streaming rebuild the
way a production crawl/metrics plane needs: two unbounded sources joined on
key + event-time interval. Both sides carry watermarks, so Spark bounds the
join state: a buffered click can be evicted once the purchase-side watermark
passes ``click_ts + MAX_LAG`` — without the watermarks the state grows
O(stream length) and an unbounded run eventually OOMs. That eviction bound is
the whole design at 100 TB/day event volume; the join itself is the built-in
stream-stream inner join (no custom state code).

One definition serves both forms: ``_sides`` projects (and watermarks) the
click and purchase sides and ``_joined`` applies the interval predicate, for
the stream and for ``attribution_batch``, the plan of
``relational.attribution_join``.

Batch/stream parity is the test contract (test_streaming.py): over a static
directory with a watermark wider than the data's time span, the streaming
join must emit exactly the batch inner join with the same interval predicate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .stream_rollup import EVENTS_SCHEMA

WATERMARK = "35 days"  # wider than the fixtures' time span: nothing is late
MAX_LAG = "1 hour"     # a purchase counts for a click at most this much later


def _sides(clicks: DataFrame, purchases: DataFrame):
    c = (
        clicks.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", WATERMARK)
    )
    p = (
        purchases.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user_id"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("purchase_ts", WATERMARK)
    )
    return c, p


def _joined(c: DataFrame, p: DataFrame) -> DataFrame:
    cond = (
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr(f"INTERVAL {MAX_LAG}"))
    )
    return (
        c.join(p, cond, "inner")
        .select(
            "user_id",
            "click_id",
            "purchase_id",
            "purchase_value",
            (F.unix_timestamp("purchase_ts") - F.unix_timestamp("click_ts")).alias("lag_s"),
        )
    )


def attribution_stream(spark: SparkSession, source_dir: str) -> DataFrame:
    """Purchases attributed to a same-user click within MAX_LAG — a
    watermarked stream-stream inner join reading the same unbounded event
    source twice (clicks side and purchases side)."""

    def read():
        return (
            spark.readStream.schema(EVENTS_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(source_dir)
        )

    return _joined(*_sides(read(), read()))


def attribution_batch(spark: SparkSession, source_dir: str) -> DataFrame:
    """The batch twin: the same sides and predicate over a static read
    (parity oracle, and ``relational.attribution_join``). On a batch read
    ``withWatermark`` applies Spark's ``EliminateEventTimeWatermark`` as it
    builds the plan, so the sides carry no watermark node here."""
    ev = spark.read.schema(EVENTS_SCHEMA).parquet(source_dir)
    return _joined(*_sides(ev, ev))
