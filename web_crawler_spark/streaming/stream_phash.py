"""Ingest-time image near-dup detection: a stream of images checked against
a static phash index (stream-static join — the image twin of the text-side
streaming dedup).

The batch tier (`analytics.multimodal.image_phash_neardup`) finds pairs
WITHIN a corpus; this module answers the ingest-time question a training
pipeline asks for every newly crawled image: "is this a near-duplicate of
anything already indexed?" — without waiting for a batch pass.

Scale shape: this is `multimodal._hamming_probe`, the one Hamming probe
the batch tier (`image_decontaminate`) also runs. The index side is STATIC
(the already-accepted corpus's phash metadata, block-exploded once into 28
16-bit keys per image — see `multimodal._PH_PAIRS` for the pigeonhole
completeness argument). The join is a stream-static equi-join on (k, blk):
Spark keeps NO join state for the static side between micro-batches, so
state is O(1) in stream length — the property that matters at 10^10
indexed images, where the static side is a bucketed table and each
micro-batch shuffles only its own block keys. The exact bit_count(xor)
verify runs on block-collision candidates only, and the per-(image, index)
aggregation collapses the multi-block candidate duplicates. No decode
anywhere: phash metadata only. Within-corpus self-pairs stay on
`multimodal._hamming_pairs` (its docstring says why).

Batch/stream parity is the test contract (test_streaming.py): over a static
source directory, the complete-mode streaming result must equal the batch
twin row-for-row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..analytics.multimodal import IMG_HAMMING_T, _hamming_probe
from ..schemas import IMAGES_SCHEMA


def neardup_stream(spark: SparkSession, src_dir: str, index: DataFrame) -> DataFrame:
    """Streaming plan: images arriving under *src_dir* probed against the
    static *index* (index_id, phash). Complete-mode aggregation for the
    bounded-source parity tests; a production deployment runs the same plan
    in update mode (each pair appears once its first candidate block lands,
    which is the same micro-batch its image arrives in)."""
    imgs = spark.readStream.schema(IMAGES_SCHEMA).parquet(src_dir)
    return _hamming_probe(imgs, index, IMG_HAMMING_T)


def neardup_batch(spark: SparkSession, src_dir: str, index: DataFrame) -> DataFrame:
    """Batch twin over the same source directory — the parity oracle."""
    imgs = spark.read.schema(IMAGES_SCHEMA).parquet(src_dir)
    return _hamming_probe(imgs, index, IMG_HAMMING_T)
