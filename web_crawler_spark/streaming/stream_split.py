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
coalesce rule — even if that doc_id collides with a clustered corpus doc's. The one divergence from a batch RE-RUN is deliberate: a
bridging document that would merge two corpus clusters is assigned to its
single BEST match's group (max jaccard, ties to the smallest corpus
doc_id — ``stream_neardup``'s verdict rule); a batch re-run would merge
and relabel the union. Streaming admission must not mutate history, so
the merge is deferred to the next batch re-label — the docstring-qualified
stability trade in dedup.corpus_split applies here in reverse.

Scale shape at 10^10 documents: the probe/verify stages are
``stream_neardup``'s (stream-static band equi-join + candidate-only exact
Jaccard over discriminative shingles, one grouped agg back to document
grain). On top of that: a synthetic self-candidate row per document
(union before the agg, so unmatched docs flow through the SAME single
aggregation instead of needing a streaming outer join), one broadcast-able
stream-static left join against the corpus label snapshot, and the same
md5-mod-100 bucket expression as the batch query — zero additional state.

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
    SPLIT_TRAIN_PCT,
    SPLIT_VALID_PCT,
    _star_labels,
)
from . import stream_neardup

_BUCKET = (
    "cast(conv(substring(md5(cast(group_id as string)), 1, 15), 16, 10) as bigint) % 100"
)


def corpus_pairs(corpus: DataFrame) -> DataFrame:
    """Exact-verified near-dup pairs among corpus docs, built from the same
    per-row array-fold signature machinery as the stream side (no sf_dir
    dependency): band self-join on the packed key, array_intersect verify
    over distinct shingle hashes, threshold at JACCARD_T."""
    b = stream_neardup._bands(stream_neardup._signatures(corpus))
    left = b.select(
        F.col("doc_id").alias("doc_a"),
        F.col("sh").alias("sh_a"),
        F.col("n_sh").alias("n_a"),
        "band",
        "band_key",
    )
    right = b.select(
        F.col("doc_id").alias("doc_b"),
        F.col("sh").alias("sh_b"),
        F.col("n_sh").alias("n_b"),
        "band",
        "band_key",
    )
    cand = (
        left.join(right, ["band", "band_key"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .withColumn("n_inter", F.expr("size(array_intersect(sh_a, sh_b))"))
        .withColumn(
            "jaccard",
            F.col("n_inter").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
        )
        .filter(F.col("jaccard") >= JACCARD_T)
        .select("doc_a", "doc_b")
        .distinct()
    )
    return cand


def build_split_state(spark: SparkSession, corpus: DataFrame):
    """Frozen admission state: (near-dup index triple, corpus label map).

    The label map is (dup_of, group_id) — component labels over the corpus
    near-dup graph, exactly what ``_component_labels`` snapshots for the
    batch consumers; here it is rebuilt from the corpus DataFrame so the
    streaming tier has no sf_dir dependency."""
    band_index, shingle_sets, hot_row = stream_neardup.build_index(spark, corpus)
    labels = _star_labels(corpus_pairs(corpus)).select(
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
    """Shared plan for both engines: near-dup candidates UNION a synthetic
    self-candidate per doc (jaccard 0, dup_of = doc_id) -> one best-match
    agg -> label lookup -> bucket. The self row only wins when no real
    match ≥ JACCARD_T exists, making 'unmatched' flow through the same
    aggregation instead of a streaming-hostile outer join."""
    sigs = stream_neardup._signatures(docs)
    cand = (
        stream_neardup._bands(sigs)
        .join(band_index, ["band", "band_key"])
        .crossJoin(F.broadcast(hot_row))
        .withColumn("sh", F.expr("array_except(sh, hot)"))
        .withColumn("n_sh", F.expr("size(sh)"))
        .join(shingle_sets, "dup_of")
        .withColumn("n_inter", F.expr("size(array_intersect(sh, sh_old))"))
        .withColumn(
            "jaccard",
            F.col("n_inter").cast("double")
            / (F.col("n_sh") + F.col("n_old") - F.col("n_inter")),
        )
        .filter(F.col("jaccard") >= JACCARD_T)
        .select("doc_id", "dup_of", "jaccard")
    )
    self_rows = sigs.select(
        "doc_id", F.col("doc_id").alias("dup_of"), F.lit(0.0).alias("jaccard")
    )
    best = (
        cand.unionByName(self_rows)
        .groupBy("doc_id")
        .agg(
            F.max(
                F.struct(F.col("jaccard"), (-F.col("dup_of")).alias("nd"))
            ).alias("b")
        )
        .select(
            "doc_id",
            (-F.col("b.nd")).alias("dup_of"),
            (F.col("b.jaccard") >= JACCARD_T).alias("matched"),
        )
    )
    # an unmatched doc is its own group even when its doc_id collides with a
    # clustered corpus doc's id (its self row's dup_of would hit that label)
    assigned = best.join(F.broadcast(labels), "dup_of", "left").select(
        "doc_id",
        "matched",
        F.when(F.col("matched"), F.coalesce("group_id", "dup_of"))
        .otherwise(F.col("doc_id"))
        .alias("group_id"),
    )
    bucket = F.expr(_BUCKET)
    return assigned.select(
        "doc_id",
        "group_id",
        "matched",
        F.when(bucket < SPLIT_TRAIN_PCT, F.lit("train"))
        .when(bucket < SPLIT_VALID_PCT, F.lit("valid"))
        .otherwise(F.lit("test"))
        .alias("split"),
    )


def split_stream(spark: SparkSession, src_dir: str, state) -> DataFrame:
    docs = spark.readStream.schema(stream_neardup.DOC_SCHEMA).parquet(src_dir)
    return _assignment(docs, *state)


def split_batch(spark: SparkSession, src_dir: str, state) -> DataFrame:
    """Batch twin over the same source directory — the parity oracle."""
    docs = spark.read.schema(stream_neardup.DOC_SCHEMA).parquet(src_dir)
    return _assignment(docs, *state)
