"""Ingest-time IMAGE curation: newly crawled images streamed through the
full image-curation verdict against STATIC corpus-derived indexes — the
image twin of ``stream_curate`` (text) and the streaming twin of
``analytics.multimodal.image_curate`` + ``image_caption_align``.

The batch tier decides keep/drop WITHIN a corpus; this module answers the
question a training pipeline asks for every newly crawled image: "would
this image survive curation against the already-accepted corpus?" — per
micro-batch, without a batch pass.

Verdict stages and their stream shape:

- near_duplicate: the image's phash block-exploded into the 28 16-bit
  (k, blk) keys (``multimodal._pair_blocks``; pigeonhole-complete for
  Hamming <= 6) and probed against the static block index of the accepted
  corpus (``multimodal._index_blocks``, the index side of
  ``multimodal._hamming_probe``) — a stream-static LEFT equi-join (no state
  for the static side), exact bit_count(xor) verify on block collisions
  only, then ONE grouped aggregation restores image grain. It keeps this
  LEFT-join/count shape instead of calling ``_hamming_probe``, because a
  stream cannot join a probe result back to its own image-grain branch.
  Within-corpus self-pairs stay on ``multimodal._hamming_pairs`` (its
  docstring says why). Complete mode in the bounded-source
  parity tests; a production deployment runs update mode keyed on an
  ingest-time watermark. At 10^10 indexed images the static side is a
  bucketed table and each micro-batch shuffles only its own block keys.
- too_small / bad_aspect: pure per-row metadata expressions on (w, h) —
  zero state, zero shuffle; same constants and precedence as the batch
  ``image_curate`` gates.
- misaligned: the caption-alignment gate of ``image_caption_align`` as two
  stream-static equi-joins into the shared embedding space (vision tower =
  the precomputed per-image embedding table; text tower = the stand-in
  caption encoder resolving the referenced payload id). A caption whose
  reference resolves to no embedding row defaults to ACCEPT (a real text
  encoder always yields a vector; the stand-in can't — mirrors
  stream_curate's unseen-source rate-1.0 default).

Reason precedence: near_duplicate → too_small → bad_aspect → misaligned →
kept — the batch ``image_curate`` order with alignment as the extra final
gate (as ``downsampled`` is final on the text side).

Batch/stream parity is the test contract (test_streaming.py): over a static
source directory, the complete-mode streaming result must equal the batch
twin row-for-row, and the per-gate semantics must match the batch analytics
components on the same images.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..analytics.multimodal import (
    ALIGN_T,
    IMG_HAMMING_T,
    IMG_MAX_ASPECT,
    IMG_MIN_SIDE,
    _caption_ref,
    _image_doc,
    _index_blocks,
    _pair_blocks,
)
from ..analytics.similarity import _cos, _with_norm
from ..schemas import IMAGES_SCHEMA


def build_index(corpus_images: DataFrame) -> DataFrame:
    """Static near-dup state from the accepted *corpus_images* (images
    schema): the block-exploded phash index. At 10^10 images this is a
    bucketed table on (k, blk) maintained incrementally; here it is the
    plan that would populate it."""
    return _index_blocks(corpus_images.select(F.col("image_id").alias("index_id"), "phash"))


def _verdict(images: DataFrame, index: DataFrame, embeddings: DataFrame) -> DataFrame:
    """Shared plan for both engines: alignment joins at image grain (the
    two towers pre-normed once per vector, as in image_caption_align), block
    explode + static-index probe, one grouped agg back to image grain,
    reason precedence."""
    sig = images.select(
        "image_id", "w", "h", "phash",
        _image_doc().alias("doc_id"), _caption_ref().alias("ref_id"),
    )
    v = _with_norm(embeddings, "vid", "vemb")
    t = _with_norm(embeddings, "tid", "temb")
    # stream-static tower joins (left: unseen references default to accept)
    sig = (
        sig.join(v, sig.doc_id == v.vid, "left")
        .join(t, sig.ref_id == t.tid, "left")
        .withColumn("align_sim", _cos("vemb", "temb"))
        .select("image_id", "w", "h", "phash", "align_sim")
    )
    # near-dup probe: block explode carries the image-grain columns through,
    # static block index joined on (k, blk), grouped agg restores grain
    carried = ["image_id", "w", "h", "align_sim"]
    probe = _pair_blocks(sig, "image_id", "phash", keep=("w", "h", "align_sim", "phash"))
    hit = (
        (F.bit_count(F.col("phash").bitwiseXOR(F.col("ph_i"))) <= IMG_HAMMING_T)
        & (F.col("index_id") != F.col("image_id"))
    )
    probed = (
        probe.join(index, ["k", "blk"], "left")
        .groupBy(*carried)
        .agg(F.sum(F.when(hit, 1).otherwise(0)).alias("n_hits"))
    )
    reason = (
        F.when(F.col("n_hits") > 0, F.lit("near_duplicate"))
        .when(F.least("w", "h") < IMG_MIN_SIDE, F.lit("too_small"))
        .when(F.greatest("w", "h") > IMG_MAX_ASPECT * F.least("w", "h"), F.lit("bad_aspect"))
        .when(F.col("align_sim") < ALIGN_T, F.lit("misaligned"))
        .otherwise(F.lit("kept"))
    )
    return probed.withColumn("drop_reason", reason).select(
        "image_id", "drop_reason", (F.col("drop_reason") == "kept").alias("keep")
    )


def curate_stream(
    spark: SparkSession, src_dir: str, index: DataFrame, embeddings: DataFrame
) -> DataFrame:
    imgs = spark.readStream.schema(IMAGES_SCHEMA).parquet(src_dir)
    return _verdict(imgs, index, embeddings)


def curate_batch(
    spark: SparkSession, src_dir: str, index: DataFrame, embeddings: DataFrame
) -> DataFrame:
    """Batch twin over the same source directory — the parity oracle."""
    imgs = spark.read.schema(IMAGES_SCHEMA).parquet(src_dir)
    return _verdict(imgs, index, embeddings)
