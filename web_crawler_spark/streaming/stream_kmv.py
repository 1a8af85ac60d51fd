"""Streaming KMV cardinality sketch: distinct-count estimation as
continuously-maintained state.

Batch twin: ``analytics/graph.py::approx_distinct_kmv`` (k smallest DISTINCT
48-bit md5 hashes, ``graph.kmv_hash``; estimate = (k-1)*KMV_SPACE DIV
kth_min, KMV_SPACE = 2^48). The streaming form shards
keys by hash bucket and keeps each shard's k minima as
``applyInPandasWithState`` state — the global k minima are always contained
in the union of per-shard k minima (any of the k smallest overall is among
its own shard's k smallest), so a reader merges shard states with the same
"k smallest of the concatenation" operator the batch plan's TakeOrdered
uses. State is O(k) per shard forever — the whole point of a sketch — and
shards scale horizontally like any keyed state store.

Parity contract (tested): stream the same rows in any chunking, merge the
final per-shard emissions, and kth_min / est_distinct equal the batch
query's bit-for-bit.
"""

from __future__ import annotations

from typing import Any, Iterable, Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..analytics.graph import KMV_K, KMV_SPACE, kmv_hash

N_SHARDS = 8

HASH_SCHEMA = T.StructType(
    [
        T.StructField("h", T.LongType(), True),
        T.StructField("shard", T.IntegerType(), True),
    ]
)

OUT_SCHEMA = T.StructType(
    [
        T.StructField("shard", T.IntegerType(), True),
        T.StructField("minima", T.ArrayType(T.LongType()), True),
        T.StructField("upd", T.LongType(), True),
    ]
)

STATE_SCHEMA = T.StructType(
    [
        T.StructField("minima", T.ArrayType(T.LongType()), True),
        T.StructField("upd", T.LongType(), True),
    ]
)


def _kmv_group(
    key: Tuple[Any, ...],
    pdfs: Iterable[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    (shard,) = key
    minima, upd = (list(state.get[0]), int(state.get[1])) if state.exists else ([], 0)
    cur = set(minima)
    for pdf in pdfs:
        cur.update(int(x) for x in pdf["h"])
    # k smallest distinct hashes seen so far in this shard
    minima = sorted(cur)[:KMV_K]
    upd += 1
    state.update((minima, upd))
    yield pd.DataFrame([{"shard": shard, "minima": minima, "upd": upd}])


def kmv_stream(spark: SparkSession, source_dir: str) -> DataFrame:
    """File stream of pre-hashed keys → per-shard k-minima state emissions
    (update mode; the row with the max ``upd`` per shard is the live
    sketch)."""
    src = (
        spark.readStream.schema(HASH_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(source_dir)
    )
    return src.groupBy("shard").applyInPandasWithState(
        _kmv_group,
        outputStructType=OUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def hashed_keys(df: DataFrame, key_col: str) -> DataFrame:
    """The batch query's hash (``graph.kmv_hash``) plus the shard,
    h mod N_SHARDS, as a reusable stage."""
    h = kmv_hash(key_col)
    return df.select(h.alias("h"), F.pmod(h, F.lit(N_SHARDS)).cast("int").alias("shard"))


def merge_shard_minima(rows) -> dict:
    """KMV union: k smallest of the concatenated shard minima (drop-in for
    the batch TakeOrdered merge). Returns the same fields as the batch
    query minus the exact baseline."""
    allm = sorted({m for r in rows for m in r})[:KMV_K]
    if not allm:
        return {"k": KMV_K, "k_seen": 0, "kth_min": None, "est_distinct": 0}
    kth = allm[-1]
    return {
        "k": KMV_K,
        "k_seen": len(allm),
        "kth_min": kth,
        "est_distinct": (KMV_K - 1) * KMV_SPACE // kth,
    }
