"""Ingest-time duplicated-passage probe: arriving documents' G-token gram
hashes checked against a STATIC corpus gram index — the streaming twin of
``analytics.dedup.span_dedup`` (exact-substring span dedup) and the text
sibling of the phash/curate/decontaminate ingest probes.

The batch query finds duplicated passages WITHIN a corpus; this module
answers the ingest-time question: "which spans of this newly crawled
document already exist verbatim in the accepted corpus?" — per
micro-batch, without a batch pass.

Scale shape at 10^10 documents:

- explode: stateless per-row gram hashing — the batch tier's own gram
  explode (``dedup.gram_spans``; ``span_dedup`` drops its null-gram rows
  of short documents), no state, no shuffle before the probe
- probe: the gram index is STATIC and cell-keyed by the 8-byte gram hash —
  a stream-static left equi-join; Spark keeps no join state for the static
  side between micro-batches, so state is O(1) in stream length (at real
  scale the index is an incrementally maintained gram table)
- verdict: one grouped aggregation back to document grain. Streaming
  forbids the batch plan's ordered window, so the interval merge is
  re-expressed as an `aggregate()` fold over the SORTED duplicated-span
  starts collected per document — same (n_spans, dup_tokens) by
  construction, which the parity test pins row-for-row against
  `span_dedup`'s window formulation (two independent Spark plans must
  agree, not just stream vs batch of the same plan).

Self-match handling: when the streamed documents are themselves part of
the index corpus (the parity setup), a gram hit only counts as duplicated
if the index saw it in a DIFFERENT document (nd >= 2, or its one indexed
doc isn't the arriving doc) — exactly `span_dedup`'s cross-document rule.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..analytics.dedup import SPAN_DUP_RATIO_T, SPAN_G, gram_spans
from ..schemas import DOCUMENTS_SCHEMA

_G1 = SPAN_G - 1

# interval-merge fold over sorted 1-based span starts `ps` (each start p
# covers [p, p+G-1]): one pass accumulating (covered tokens, span count,
# last covered end) — the associative-by-order re-expression of the batch
# plan's gaps-and-islands window
_MERGE_FOLD = (
    "aggregate(ps, "
    # le starts at -1 so a span at pos 1 both opens an island (1 > -1+1)
    # and contributes its full G tokens (greatest(le, p-1) = 0)
    "struct(cast(0 as bigint) as cov, cast(0 as bigint) as cnt, cast(-1 as bigint) as le), "
    "(a, p) -> struct("
    f"a.cov + greatest(cast(0 as bigint), cast(p + {_G1} as bigint) - greatest(a.le, cast(p - 1 as bigint))), "
    "a.cnt + (case when p > a.le + 1 then cast(1 as bigint) else cast(0 as bigint) end), "
    f"greatest(a.le, cast(p + {_G1} as bigint))), "
    "a -> struct(a.cov as dup_tokens, a.cnt as n_spans))"
)


def build_index(spark: SparkSession, corpus: DataFrame) -> DataFrame:
    """Static gram index from the accepted corpus: gram hash -> number of
    distinct holding documents + one holder id (enough to apply the
    cross-document rule against arriving self-matches)."""
    return gram_spans(corpus).groupBy("gh").agg(
        F.countDistinct("doc_id").alias("nd"), F.min("doc_id").alias("doc0")
    )


def _verdict(docs: DataFrame, index: DataFrame) -> DataFrame:
    """Shared plan for both engines: explode grams, left-probe the static
    index, fold the sorted duplicated starts back to one verdict per doc."""
    g = gram_spans(docs)
    dup = F.when(F.col("nd").isNull() | F.col("pos").isNull(), F.lit(False)).otherwise(
        (F.col("nd") >= 2) | (F.col("doc0") != F.col("doc_id"))
    )
    folded = (
        g.join(index, ["gh"], "left")
        .withColumn("dup_pos", F.when(dup, F.col("pos")))
        .groupBy("doc_id", "n_words")
        .agg(F.expr("sort_array(collect_list(dup_pos))").alias("ps"))
        .withColumn("m", F.expr(_MERGE_FOLD))
    )
    ratio = F.col("m.dup_tokens").cast("double") / F.col("n_words")
    return folded.select(
        "doc_id",
        "n_words",
        F.col("m.n_spans").alias("n_spans"),
        F.col("m.dup_tokens").alias("dup_tokens"),
        ratio.alias("dup_ratio"),
        (ratio <= SPAN_DUP_RATIO_T).alias("keep"),
    )


def spans_stream(spark: SparkSession, src_dir: str, index: DataFrame) -> DataFrame:
    docs = spark.readStream.schema(DOCUMENTS_SCHEMA).parquet(src_dir)
    return _verdict(docs, index)


def spans_batch(spark: SparkSession, src_dir: str, index: DataFrame) -> DataFrame:
    """Batch twin over the same source directory — the parity oracle."""
    docs = spark.read.schema(DOCUMENTS_SCHEMA).parquet(src_dir)
    return _verdict(docs, index)
