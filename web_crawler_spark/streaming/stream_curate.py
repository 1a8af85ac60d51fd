"""Ingest-time corpus curation: newly crawled documents streamed through the
full text-curation verdict against STATIC corpus-derived indexes (the
streaming twin of ``analytics.text.corpus_pipeline_full``).

The batch pipeline decides keep/drop WITHIN a corpus; this module answers
the question a training pipeline asks for every newly crawled document:
"would this document survive curation against the already-accepted corpus?"
— per micro-batch, without a batch pass.

Verdict stages and their stream shape:

- near-duplicate: the doc's winnowing fingerprint probed against the static
  fingerprint index (stream-static left join — no state for the static side)
- too_short / low_quality / repetitive: pure per-row column expressions
  (zero state, zero shuffle). The repetition signals are the SAME integer
  counts as `text_repetition` (verified by a cross-check test), computed
  with in-row array expressions instead of the batch explode+agg — O(n²) in
  the doc's word count, which is the right trade per-row at ingest where n
  is bounded and a shuffle per micro-batch is not
- boilerplate: the doc's 10-word segment hashes exploded and probed against
  the static segment index (stream-static join on the 60-bit hash; sharing
  ANY segment with an accepted doc makes total df >= 2, i.e. exactly the
  batch `line_dedup` "shared" condition for a new doc), then ONE grouped
  aggregation back to doc grain — complete mode in the bounded-source
  parity tests; a production deployment runs update mode keyed on an
  ingest-time watermark
- model_filtered: the hashing-trick classifier logit
  (`text_classify_quality`) as one more per-row integer fold — the learned
  quality gate runs at ingest for free, no model table to join
- downsampled: static per-source accept rates (``text.source_rates`` over
  the accepted corpus) stream-static-joined on source; unseen domains
  default to rate 1.0 (nothing to flatten yet)

Batch/stream parity is the test contract (test_streaming.py): over a static
source directory, the complete-mode streaming result must equal the batch
twin row-for-row, and the per-gate semantics must match the batch analytics
components on the same documents.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..analytics.text import (
    MIN_WORDS,
    QUALITY_T,
    REP_DUP3_T,
    REP_TOP1_T,
    REP_TOP2_T,
    SAMPLE_HASH,
    SEG_SHARED_T,
    _RESAMPLE_SCALE,
    _SEG_HASHES,
    _WHASH,
    _WINDOWS,
    _WORDS,
    _clf_logit_over,
    _quality_signals,
    _with_quality,
    source_rates,
)
from ..schemas import DOCUMENTS_SCHEMA

# per-row repetition signals over the pre-bound `ws` column: identical
# integer counts to text_repetition's explode+agg, as in-row array lambdas
_TOP1_CNT = "array_max(transform(array_distinct(ws), x -> size(filter(ws, w -> w = x))))"
_G2 = (
    "CASE WHEN size(ws) >= 2 THEN transform(sequence(1, size(ws) - 1), "
    "i -> concat_ws(' ', element_at(ws, i), element_at(ws, i + 1))) "
    "ELSE array() END"
)
_G3 = (
    "CASE WHEN size(ws) >= 3 THEN transform(sequence(1, size(ws) - 2), "
    "i -> concat_ws(' ', element_at(ws, i), element_at(ws, i + 1), element_at(ws, i + 2))) "
    "ELSE array() END"
)


def build_indexes(spark: SparkSession, corpus: DataFrame):
    """Static curation state derived from the accepted *corpus* (documents
    schema): fingerprint index, boilerplate segment index, per-source accept
    rates. At 10^10 docs each is a bucketed table maintained incrementally;
    here they are the plans that would populate those tables."""
    base = corpus.withColumn("ws", F.expr(_WORDS))
    fingerprints = (
        base.withColumn("hs", F.expr(_WHASH))
        .select(F.expr(f"array_min({_WINDOWS})").alias("fingerprint"))
        .dropDuplicates(["fingerprint"])
    )
    segments = (
        base.select(F.explode(F.expr(_SEG_HASHES)).alias("h")).dropDuplicates(["h"])
    )
    rates = source_rates(corpus.select("doc_id", "source")).select("source", "rate")
    return fingerprints, segments, rates


def _verdict(
    docs: DataFrame, fingerprints: DataFrame, segments: DataFrame, rates: DataFrame
) -> DataFrame:
    """Shared plan for both engines: per-row signals, three stream-static
    probes, one grouped agg back to doc grain, reason precedence."""
    sig = _with_quality(
        docs.withColumn("ws", F.expr(_WORDS))
        .withColumn("hs", F.expr(_WHASH))
        .withColumn("g2", F.expr(_G2))
        .withColumn("g3", F.expr(_G3))
        .select(
            "doc_id",
            "source",
            F.expr(f"array_min({_WINDOWS})").alias("fingerprint"),
            *_quality_signals("ws"),
            (F.expr(_TOP1_CNT).cast("double") / F.expr("size(ws)")).alias("top1_frac"),
            F.expr(
                f"CASE WHEN size(g2) = 0 THEN 0.0 ELSE "
                f"cast(array_max(transform(array_distinct(g2), x -> size(filter(g2, w -> w = x)))) as double)"
                f" / size(g2) END"
            ).alias("top2_frac"),
            F.expr(
                "CASE WHEN size(g3) = 0 THEN 0.0 ELSE "
                "cast(size(filter(g3, x -> size(filter(g3, y -> y = x)) > 1)) as double)"
                " / size(g3) END"
            ).alias("dup3_frac"),
            F.expr(_SEG_HASHES).alias("seg_hashes"),
            F.expr("size(" + _SEG_HASHES + ")").alias("n_segs"),
            F.expr(_clf_logit_over("ws")).alias("logit_sum"),
            F.expr(SAMPLE_HASH).alias("h48"),
        )
    )
    # stream-static probes: fingerprint membership, per-source rate
    sig = (
        sig.join(
            fingerprints.withColumn("fp_hit", F.lit(True)), ["fingerprint"], "left"
        )
        .join(rates, ["source"], "left")
        .withColumn("rate", F.coalesce("rate", F.lit(1.0)))
    )
    # boilerplate probe: explode carries the doc-grain columns through (no
    # stream-stream join-back), static segment index joined on the hash,
    # one grouped agg restores doc grain
    carried = [
        "doc_id", "source", "fingerprint", "n_words", "quality", "top1_frac",
        "top2_frac", "dup3_frac", "n_segs", "logit_sum", "h48", "fp_hit", "rate",
    ]
    probed = (
        sig.select(*carried, F.explode("seg_hashes").alias("h"))
        .join(segments.withColumn("seg_hit", F.lit(1)), ["h"], "left")
        .groupBy(*carried)
        .agg(F.coalesce(F.sum("seg_hit"), F.lit(0)).alias("n_shared"))
    )
    thresh = F.floor(F.col("rate") * F.lit(float(_RESAMPLE_SCALE))).cast("bigint")
    reason = (
        F.when(F.col("fp_hit"), F.lit("near_duplicate"))
        .when(F.col("n_words") < MIN_WORDS, F.lit("too_short"))
        .when(F.col("quality") < QUALITY_T, F.lit("low_quality"))
        .when(
            (F.col("top1_frac") > REP_TOP1_T)
            | (F.col("top2_frac") > REP_TOP2_T)
            | (F.col("dup3_frac") > REP_DUP3_T),
            F.lit("repetitive"),
        )
        .when(
            F.col("n_shared").cast("double") / F.col("n_segs") >= SEG_SHARED_T,
            F.lit("boilerplate"),
        )
        .when(F.col("logit_sum") < 0, F.lit("model_filtered"))
        .when(F.col("h48") >= thresh, F.lit("downsampled"))
        .otherwise(F.lit("kept"))
    )
    return probed.withColumn("drop_reason", reason).select(
        "doc_id", "drop_reason", (F.col("drop_reason") == "kept").alias("keep")
    )


def curate_stream(
    spark: SparkSession,
    src_dir: str,
    fingerprints: DataFrame,
    segments: DataFrame,
    rates: DataFrame,
) -> DataFrame:
    docs = spark.readStream.schema(DOCUMENTS_SCHEMA).parquet(src_dir)
    return _verdict(docs, fingerprints, segments, rates)


def curate_batch(
    spark: SparkSession,
    src_dir: str,
    fingerprints: DataFrame,
    segments: DataFrame,
    rates: DataFrame,
) -> DataFrame:
    """Batch twin over the same source directory — the parity oracle."""
    docs = spark.read.schema(DOCUMENTS_SCHEMA).parquet(src_dir)
    return _verdict(docs, fingerprints, segments, rates)
