"""Ingest-time semantic decontamination: arriving embeddings checked
against the static held-out benchmark split in quantizer-cell space — the
embedding twin of the text/image ingest probes (`stream_curate.py`,
`stream_phash.py`) and the streaming twin of
``analytics.similarity.embed_decontaminate``.

The batch query decides contamination WITHIN a corpus; this module answers
the ingest-time question: "is this newly encoded vector semantically too
close to the held-out benchmark?" — per micro-batch, without a batch pass.

Scale shape at 10^10 vectors:

- assignment: the trained corpus quantizer's centroids ride a BROADCAST
  (O(k·DIM) ints); each arriving micro-batch assigns its vectors to cells
  in one zero-shuffle Arrow integer-matmul pass (`_assign_cells`, the same
  stage the batch tier runs), and pairs score by the tier's one cosine
  rule (`_cos`)
- probe: the benchmark index is STATIC and tiny relative to the corpus
  (the held-out split), keyed by cell — a stream-static left equi-join on
  cell id; Spark keeps no join state for the static side between
  micro-batches, so state is O(1) in stream length
- verdict: one grouped aggregation back to vector grain (max over the
  per-candidate hit flags) — complete mode in the bounded-source parity
  tests; a production deployment runs update mode keyed on an ingest-time
  watermark

Batch/stream parity is the test contract (test_streaming.py): over a
static source directory the complete-mode streaming result must equal the
batch twin row-for-row — and, when the index is built from the same
embeddings table the batch query reads, equal `embed_decontaminate`'s own
verdicts vector-for-vector (same centroids → same cells → same verdicts).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..analytics.similarity import (
    EMBED_DECON_MOD,
    EMBED_DECON_T,
    _assign_cells,
    _corpus_quantizer,
    _cos,
    _with_norm,
)

EMB_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType(), True),
        T.StructField("embedding", T.ArrayType(T.FloatType()), True),
        T.StructField("label", T.IntegerType(), True),
    ]
)


def build_index(spark: SparkSession, corpus: DataFrame):
    """Static decontamination state from the accepted *corpus* (embeddings
    schema): the trained corpus quantizer broadcast plus the benchmark
    split (vec_id % EMBED_DECON_MOD == 0) assigned to its cells. At 10^10
    vectors the index is a cell-bucketed table maintained incrementally;
    here it is the plan that would populate it."""
    e_scan = corpus.select("vec_id", "embedding")
    bc_cent = _corpus_quantizer(spark, e_scan, e_scan.count())
    is_bench = F.col("vec_id") % EMBED_DECON_MOD == 0
    bench = _with_norm(_assign_cells(e_scan, bc_cent).filter(is_bench), None, "vb", "cell")
    return bc_cent, bench


def _verdict(vecs: DataFrame, bc_cent, bench: DataFrame) -> DataFrame:
    """Shared plan for both engines: assign arriving vectors with the
    broadcast centroids, left-probe the static benchmark index on cell id,
    aggregate the hit flags back to vector grain. Arriving vectors are
    assumed new (an arriving id that IS a benchmark id would match itself;
    the parity tests stream the non-benchmark split)."""
    train = _with_norm(_assign_cells(vecs, bc_cent), "vec_id", "vt", "cell")
    hit = F.when(F.col("vb").isNull(), F.lit(0)).otherwise(
        (_cos("vt", "vb") >= EMBED_DECON_T).cast("int")
    )
    return (
        train.join(bench, ["cell"], "left")
        .withColumn("hit", hit)
        .groupBy("vec_id", "cell")
        .agg((F.max("hit") == 1).alias("contaminated"))
    )


def decontaminate_stream(
    spark: SparkSession, src_dir: str, bc_cent, bench: DataFrame
) -> DataFrame:
    vecs = (
        spark.readStream.schema(EMB_SCHEMA)
        .parquet(src_dir)
        .select("vec_id", "embedding")
    )
    return _verdict(vecs, bc_cent, bench)


def decontaminate_batch(
    spark: SparkSession, src_dir: str, bc_cent, bench: DataFrame
) -> DataFrame:
    """Batch twin over the same source directory — the parity oracle."""
    vecs = (
        spark.read.schema(EMB_SCHEMA)
        .parquet(src_dir)
        .select("vec_id", "embedding")
    )
    return _verdict(vecs, bc_cent, bench)
