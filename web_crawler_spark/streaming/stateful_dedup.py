"""Custom stateful streaming operator: continuous URL-seen dedup.

The batch engine dedups candidates per round (anti-join + min(struct)); a
continuously-fed frontier needs the same as a stream. This is the
``applyInPandasWithState`` formulation: URLs grouped by host bucket, state =
the per-group seen url_hash set, emit = first occurrences only — i.e. the
reference's ``if link not in self.visited_urls`` (crawler.py:556) as an
unbounded streaming operator.

State is bounded per group and partitioned by host bucket, so at 10^10 URLs
the state store shards horizontally like the batch seen table. Like the
batch engine's anti-join, the per-group seen set is exact.
"""

from __future__ import annotations

from typing import Any, Iterable, Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

URL_EVENT_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), True),
        T.StructField("url_hash", T.LongType(), True),
        T.StructField("host_bucket", T.IntegerType(), True),
        T.StructField("seq", T.LongType(), True),
    ]
)

OUT_SCHEMA = T.StructType(
    [
        T.StructField("host_bucket", T.IntegerType(), True),
        T.StructField("url", T.StringType(), True),
        T.StructField("url_hash", T.LongType(), True),
        T.StructField("first_seq", T.LongType(), True),
    ]
)

STATE_SCHEMA = T.StructType([T.StructField("seen_hashes", T.ArrayType(T.LongType()), True)])


def _dedup_group(
    key: Tuple[Any, ...],
    pdfs: Iterable[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    (host_bucket,) = key
    seen = set(state.get[0]) if state.exists else set()
    out_rows = []
    for pdf in pdfs:
        # within-batch AND cross-batch first occurrence, in seq order
        for r in pdf.sort_values("seq").itertuples(index=False):
            h = int(r.url_hash)
            if h in seen:
                continue
            seen.add(h)
            out_rows.append(
                {"host_bucket": host_bucket, "url": r.url, "url_hash": h, "first_seq": int(r.seq)}
            )
    state.update((list(seen),))
    yield pd.DataFrame(out_rows, columns=[f.name for f in OUT_SCHEMA.fields])


def dedup_stream(spark: SparkSession, source_dir: str) -> DataFrame:
    """File stream of URL events → first occurrence per url_hash, state
    sharded by host bucket."""
    ev = (
        spark.readStream.schema(URL_EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(source_dir)
    )
    return ev.groupBy("host_bucket").applyInPandasWithState(
        _dedup_group,
        outputStructType=OUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
