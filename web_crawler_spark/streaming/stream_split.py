"""Ingest-time train/valid/test admission: arriving documents are assigned
to the cluster-coherent split of ``analytics.dedup.corpus_split`` WITHOUT
re-running the corpus LSH pipeline — the streaming admission twin of the
batch split, closing the loop ``stream_neardup`` opened (that module says
whether an arriving doc duplicates the corpus; this one says which split
bucket it must therefore land in so the near-dup pair never straddles
train/eval).

Stable-label contract: the static state is the FROZEN corpus component
labels (the same ``_component_labels`` snapshot both batch consumers
read). An arriving document that near-dup-matches a corpus document
inherits that document's group — and therefore its split — verbatim;
corpus assignments never move. An arriving document with no corpus match
is a new singleton group labeled by its own doc_id, exactly the batch
coalesce rule — even if that doc_id collides with a clustered corpus
doc's. The first divergence from a batch RE-RUN is deliberate: a
bridging document that would merge two corpus clusters is assigned to its
single BEST match's group (max jaccard, ties to the smallest corpus
doc_id — ``stream_neardup``'s verdict rule); a batch re-run would merge
and relabel the union. Streaming admission must not mutate history, so
the merge is deferred to the next batch re-label — the docstring-qualified
stability trade in dedup.corpus_split applies here in reverse. A second
divergence follows from the core's cap policy (``analytics.dedup``
section 3): the corpus labels come from the uncapped pair graph, while
arrival matching is capped at SHINGLE_DF_CAP, so an arrival whose
similarity is carried by boilerplate shingles can stay a singleton where
a batch re-run would group it.

Scale shape at 10^10 documents: the probe/verify stages are
``stream_neardup``'s (stream-static band equi-join + candidate-only exact
Jaccard over discriminative shingles, one grouped agg back to document
grain). On top of that: a synthetic self-candidate row per document
(union before the agg, so unmatched docs flow through the SAME single
aggregation instead of needing a streaming outer join), one stream-static
left join against the corpus label snapshot (broadcast only while the
planner estimates it small), and the batch query's own split column
(``dedup.split_of_group``) — zero additional state.

Parity contract (test_streaming.py): complete-mode stream == batch twin
row-for-row; matched arrivals inherit their corpus group's split exactly
as ``corpus_split`` assigns it; and on a constructed corpus where
arrivals join at most one existing cluster each with doc_ids above the
component min, the streaming assignment equals a full batch
``corpus_split`` re-run bit-for-bit (the regime where stability and
re-computation agree).

Reference parity anchor: the split semantics mirror corpus_split
(dedup.py); the reference system has no streaming tier (SURVEY.md §2.9).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..analytics.dedup import (
    JACCARD_T,
    _arrival_matches,
    _best_match,
    _lsh_pairs,
    _star_labels,
    split_of_group,
)
from ..schemas import DOCUMENTS_SCHEMA
from . import stream_neardup


def build_split_state(spark: SparkSession, corpus: DataFrame):
    """Frozen admission state: (near-dup index triple, corpus label map).

    The label map is (dup_of, group_id) — component labels over the corpus
    near-dup graph, built by the same batch pair plan (``dedup._lsh_pairs``)
    and star labeling that ``_component_labels`` snapshots for the batch
    consumers; here it runs on the corpus DataFrame so the streaming tier
    has no sf_dir dependency. Cache and materialize the returned frames:
    only then does the planner know the label map's real size, which
    decides whether its join broadcasts."""
    band_index, shingle_sets, hot_row = stream_neardup.build_index(spark, corpus)
    labels = _star_labels(_lsh_pairs(corpus).select("doc_a", "doc_b")).select(
        F.col("doc").alias("dup_of"), F.col("label").alias("group_id")
    )
    return band_index, shingle_sets, hot_row, labels


def _assignment(
    docs: DataFrame,
    band_index: DataFrame,
    shingle_sets: DataFrame,
    hot_row: DataFrame,
    labels: DataFrame,
) -> DataFrame:
    """Shared plan for both engines: ``stream_neardup``'s scoring
    (``dedup._arrival_matches``) UNION a synthetic self-candidate per doc
    (jaccard 0, dup_of = doc_id) -> one best-match agg -> label lookup ->
    ``split_of_group``. The self row only wins when no real match ≥
    JACCARD_T exists, making 'unmatched' flow through the same aggregation
    instead of a streaming-hostile outer join."""
    self_rows = docs.select(
        "doc_id", F.col("doc_id").alias("dup_of"), F.lit(0.0).alias("jaccard")
    )
    best = _best_match(
        _arrival_matches(docs, band_index, shingle_sets, hot_row).unionByName(self_rows)
    ).withColumn("matched", F.col("jaccard") >= JACCARD_T)
    # an unmatched doc is its own group even when its doc_id collides with a
    # clustered corpus doc's id (its self row's dup_of would hit that label).
    # No broadcast hint: the label map grows with the corpus, so the
    # planner's size estimate decides
    assigned = best.join(labels, "dup_of", "left").select(
        "doc_id",
        "matched",
        F.when(F.col("matched"), F.coalesce("group_id", "dup_of"))
        .otherwise(F.col("doc_id"))
        .alias("group_id"),
    )
    return assigned.select("doc_id", "group_id", "matched", split_of_group())


def split_stream(spark: SparkSession, src_dir: str, state) -> DataFrame:
    docs = spark.readStream.schema(DOCUMENTS_SCHEMA).parquet(src_dir)
    return _assignment(docs, *state)


def split_batch(spark: SparkSession, src_dir: str, state) -> DataFrame:
    """Batch twin over the same source directory — the parity oracle."""
    docs = spark.read.schema(DOCUMENTS_SCHEMA).parquet(src_dir)
    return _assignment(docs, *state)
