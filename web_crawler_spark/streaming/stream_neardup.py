"""Ingest-time near-duplicate admission: arriving documents MinHash-probed
against the STATIC accepted-corpus band index — the streaming twin of
``analytics.dedup.dedup_incremental`` and the document sibling of the
phash / span / embedding ingest probes.

The batch query checks a new ingest BATCH against the corpus; this module
answers the per-document ingest-time question: "is this newly crawled
document a near-duplicate of something already accepted?" — per
micro-batch, without a batch pass over the corpus.

Every stage is the streaming half of the one MinHash/LSH core in
``analytics.dedup`` (section 3); this module adds only the static corpus
index and the stream/batch sources. Scale shape at 10^10 documents:

- signatures: the batch tier computes minhashes as a partial-aggregated
  groupBy over the exploded shingle stream (the right plan when the whole
  batch shuffles anyway); a stream must not shuffle per arriving row, so
  ``dedup._fold_signatures`` re-expresses the 16 minhashes as per-row
  ``array_min``/``transform`` folds over the document's own shingle array
  — stateless, zero-shuffle, bit-identical to the batch mixes
- probe: the corpus band index (doc, band, band_key — 8 rows per accepted
  doc) is STATIC, keyed by the packed bigint band key; a stream-static
  inner equi-join, no state kept between micro-batches (at real scale this
  is the incrementally maintained signature table)
- verify: ``dedup._arrival_matches`` joins candidates to the static per-doc
  shingle-set table on the matched corpus doc id only — the candidate
  restriction the batch tier gets from its semi-joins falls out of the
  equi-join itself — and exact Jaccard is a per-row ``array_intersect``
  against the arriving doc's own (distinct) shingle hashes. The verify is
  CAPPED at SHINGLE_DF_CAP, per the core's cap policy (``analytics.dedup``
  section 3): new-vs-corpus matching is capped, the pair graph is not.
- verdict: ONE grouped aggregation back to document grain
  (``dedup._best_match``, the batch query's max(struct) rule) — the single
  streaming aggregation the plan is allowed

Batch/stream parity is the test contract (test_streaming.py): over a
static source directory the complete-mode streaming result must equal the
batch twin row-for-row AND — when the index is built from the corpus split
of the same documents table and the new-batch split is streamed — equal
``dedup_incremental``'s verdicts doc-for-doc (two independent Spark
formulations of the same semantics must agree, not just stream vs batch
of one plan).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..analytics.dedup import (
    SHINGLE_DF_CAP,
    _arrival_matches,
    _band_rows,
    _best_match,
    _fold_signatures,
)
from ..schemas import DOCUMENTS_SCHEMA


def build_index(spark: SparkSession, corpus: DataFrame, df_population: DataFrame = None):
    """Static admission state from the accepted *corpus* (documents
    schema): the band index (8 rows/doc), the per-doc distinct
    shingle-hash sets the verify stage probes, and the boilerplate
    (df > SHINGLE_DF_CAP) shingle set the verify tier excludes — the
    streaming mirror of the batch tier's capped `kept` relation. At 10^10
    docs all three are incrementally maintained tables (the df table is
    exactly the index metadata the batch docstring names); here they are
    the plans that would populate them.

    ``df_population`` is the document set the boilerplate df is counted
    over — defaults to the corpus; the batch/stream parity tests pass the
    FULL documents table because ``dedup_incremental`` derives both sides
    from it, so its df counts span corpus + batch."""
    sigs = _fold_signatures(corpus)
    band_index = _band_rows(sigs).select(
        F.col("doc_id").alias("dup_of"), "band", "band_key"
    )
    pop = _fold_signatures(df_population) if df_population is not None else sigs
    # 1-row array of boilerplate shingle hashes: small by construction
    # (bounded by total_occurrences / cap), carried to the stream side as a
    # broadcast 1-row cross join so the per-row array_except stays a
    # zero-shuffle expression
    hot_row = (
        pop.select(F.explode("sh").alias("h"))
        .groupBy("h")
        .agg(F.count("*").alias("_df"))
        .filter(F.col("_df") > SHINGLE_DF_CAP)
        .agg(F.collect_list("h").alias("hot"))
    )
    shingle_sets = sigs.crossJoin(F.broadcast(hot_row)).select(
        F.col("doc_id").alias("dup_of"),
        F.expr("array_except(sh, hot)").alias("sh_old"),
        F.expr("size(array_except(sh, hot))").alias("n_old"),
    )
    return band_index, shingle_sets, hot_row


def neardup_stream(
    spark: SparkSession,
    src_dir: str,
    band_index: DataFrame,
    shingle_sets: DataFrame,
    hot_row: DataFrame,
) -> DataFrame:
    docs = spark.readStream.schema(DOCUMENTS_SCHEMA).parquet(src_dir)
    return _best_match(_arrival_matches(docs, band_index, shingle_sets, hot_row))


def neardup_batch(
    spark: SparkSession,
    src_dir: str,
    band_index: DataFrame,
    shingle_sets: DataFrame,
    hot_row: DataFrame,
) -> DataFrame:
    """Batch twin over the same source directory — the parity oracle."""
    docs = spark.read.schema(DOCUMENTS_SCHEMA).parquet(src_dir)
    return _best_match(_arrival_matches(docs, band_index, shingle_sets, hot_row))
