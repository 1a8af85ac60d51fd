"""Multimodal-column operators: image bytes as opaque `binary` columns with
typed metadata, decode / validate / resize / feature-extract as Arrow-batched
`mapInPandas` stages.

The container has no real image libraries, so the codec is the clearly-marked
deterministic stand-in in core/imagecodec.py (WCSI container; swapping in
PIL/libvips changes only encode/decode). The Spark-side plumbing — binary
through Arrow, batch shapes, schemas, partitioning — is real and is what
these queries exercise.

The images/audio here are synthesized deterministically from
`documents.doc_id` (one payload per doc, seed-keyed) — no external data, same
shape as the input_hint images table.

Oracle pairing: the codec is a pure deterministic function of the id, so the
expected per-payload metrics are precomputed DRIVER-SIDE with the same
pure-Python codec (no Spark, no Arrow, no executors — an independent
execution path) and inlined as a VALUES table in the DuckDB oracle, joined
against the actual `documents` id prefix so an id drift still fails loudly.
The comparison therefore verifies the full distributed plumbing (binary
through Arrow, mapInPandas batching, aggregation) against a single-process
ground truth.
"""

from __future__ import annotations

import functools
import hashlib
import math
import struct
import zlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..core import audiocodec, imagecodec, videocodec
from ..functions import udfs
from ..schemas import AUDIO_SCHEMA, IMAGES_SCHEMA, VIDEO_SCHEMA
from .common import sql_components, table

N_IMAGES = 200  # images synthesized per run (first N doc_ids)


_GEN_ROWS_PER_TASK = 32  # payload rows per decode task


def _gen_partitions(spark: SparkSession, n_rows: int) -> int:
    """Decode-stage parallelism for the synthetic media generators: enough
    tasks to keep ~_GEN_ROWS_PER_TASK rows each, capped at the session's
    configured shuffle parallelism. Derived from input size + config rather
    than a literal so pointing the generators at a real id column scales the
    mapInPandas stage with the data and the cluster — while a 200-row test
    table doesn't fan out into dozens of near-empty Python tasks (cold
    worker spin-up dominates: measured 10.5 s for 32 one-off tasks vs 2.2 s
    for 8 on the same 200 rows)."""
    shuffle = int(spark.conf.get("spark.sql.shuffle.partitions", "8"))
    return max(1, min(shuffle, -(-n_rows // _GEN_ROWS_PER_TASK)))


def _payloads(
    spark: SparkSession, sf_dir: str, n: int, rows_of, schema: T.StructType
) -> DataFrame:
    """The one synthetic-payload generator: the first *n* documents' doc_ids,
    spread over `_gen_partitions(spark, n)` tasks, each id expanded by the
    per-id row function *rows_of(doc_id) -> list[dict]* in a mapInPandas
    stage. The driver-side ground-truth builders (`_expected_*`) iterate the
    same row functions over ids 0..n-1, pure-Python in-process."""
    cols = schema.fieldNames()

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame([r for d in pdf["doc_id"] for r in rows_of(int(d))], columns=cols)

    ids = table(spark, sf_dir, "documents").select("doc_id").orderBy("doc_id").limit(n)
    return ids.repartition(_gen_partitions(spark, n), "doc_id").mapInPandas(gen, schema)


def _image_rows(doc_id: int) -> list[dict]:
    row = imagecodec.image_row(f"img-{doc_id}", seed=42)
    row["caption"] = f"caption for img-{doc_id}"
    return [row]


def _images(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic images table keyed on doc_id — exact input_hint shape."""
    return _payloads(spark, sf_dir, N_IMAGES, _image_rows, IMAGES_SCHEMA)


# (the decode/validate/feature extractor lives in functions/udfs.py —
# one mapInPandas pass computes invariant flags AND decoded features from a
# single pixel buffer; see multimodal_image below)


# ---------------------------------------------------------------------------
# audio modality: binary clips through the same decode/validate/feature path
# ---------------------------------------------------------------------------

N_AUDIO = 200  # clips synthesized per run (first N doc_ids)


def _audio_rows(doc_id: int) -> list[dict]:
    return [audiocodec.audio_row(f"aud-{doc_id}", seed=42)]


def _audios(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic audio table keyed on doc_id (WCSA clips, int16 PCM)."""
    return _payloads(spark, sf_dir, N_AUDIO, _audio_rows, AUDIO_SCHEMA)


AUDIO_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("audio_id", T.StringType(), False),
        T.StructField("fmt", T.StringType(), True),
        T.StructField("sr", T.IntegerType(), True),
        T.StructField("n_samples", T.IntegerType(), True),
        T.StructField("decode_ok", T.BooleanType(), False),
        T.StructField("samples_ok", T.BooleanType(), False),  # exact / SNR>=30 for lossy
        T.StructField("duration_s", T.DoubleType(), True),
        T.StructField("rms", T.DoubleType(), True),
        T.StructField("peak", T.IntegerType(), True),
        T.StructField("n_clipped", T.IntegerType(), True),
        T.StructField("zero_crossings", T.IntegerType(), True),
    ]
)


def extract_audio(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas: decode WCSA bytes → invariant flags + scalar features."""
    for pdf in batches:
        rows = []
        for r in pdf.itertuples(index=False):
            rec = dict(audio_id=r.audio_id, fmt=None, sr=None, n_samples=None,
                       decode_ok=False, samples_ok=False, duration_s=None,
                       rms=None, peak=None, n_clipped=None, zero_crossings=None)
            try:
                samples, sr, fmt = audiocodec.decode(bytes(r.bytes))
                ref = audiocodec.reference_samples(r.audio_id, len(samples))
                if fmt in audiocodec.LOSSY_FMTS:
                    ok = audiocodec.snr_db(ref, samples) >= audiocodec.SNR_OK_DB
                else:
                    ok = bool(np.array_equal(samples, ref))
                rec.update(
                    fmt=fmt, sr=sr, n_samples=len(samples),
                    decode_ok=bool(sr == r.sr and len(samples) == r.n_samples and fmt == r.fmt),
                    samples_ok=bool(ok),
                    **audiocodec.features(samples, sr),
                )
            except (ValueError, NotImplementedError):
                pass  # corrupt/unsupported -> nulls, counted downstream
            rows.append(rec)
        yield pd.DataFrame(rows, columns=[f.name for f in AUDIO_FEATURES_SCHEMA.fields])


def multimodal_audio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-format audio validation/feature rollup. All aggregates are
    order-independent (counts, int sums, min/max) — no double SUMs."""
    feats = _audios(spark, sf_dir).mapInPandas(extract_audio, AUDIO_FEATURES_SCHEMA)
    return (
        feats.groupBy("fmt")
        .agg(
            F.count("*").alias("n_clips"),
            F.sum(F.when(F.col("decode_ok"), 1).otherwise(0)).alias("decode_pass"),
            F.sum(F.when(F.col("samples_ok"), 1).otherwise(0)).alias("samples_pass"),
            F.min("sr").alias("min_sr"),
            F.max("sr").alias("max_sr"),
            F.sum(F.col("n_samples").cast("bigint")).alias("total_samples"),
            F.sum(F.col("n_clipped").cast("bigint")).alias("total_clipped"),
            F.sum(F.col("zero_crossings").cast("bigint")).alias("total_zero_crossings"),
            F.min("duration_s").alias("min_duration_s"),
            F.max("rms").alias("max_rms"),
            F.max("peak").alias("max_peak"),
        )
        .orderBy("fmt")
    )


# ---------------------------------------------------------------------------

N_VIDEO = 100  # clips synthesized per run (first N doc_ids); ~25k frames total


def _video_rows(doc_id: int) -> list[dict]:
    return [videocodec.video_row(f"vid-{doc_id}", seed=42)]


def _videos(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic video table keyed on doc_id (WCSV multi-frame clips)."""
    return _payloads(spark, sf_dir, N_VIDEO, _video_rows, VIDEO_SCHEMA)


VIDEO_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("video_id", T.StringType(), False),
        T.StructField("fmt", T.StringType(), True),
        T.StructField("fps", T.IntegerType(), True),
        T.StructField("n_frames", T.IntegerType(), True),
        T.StructField("n_sampled", T.IntegerType(), True),
        T.StructField("decode_ok", T.BooleanType(), False),
        T.StructField("frames_ok", T.BooleanType(), False),  # sampled frames vs ref
        T.StructField("duration_s", T.DoubleType(), True),
        T.StructField("brightness", T.DoubleType(), True),
        T.StructField("motion", T.DoubleType(), True),
    ]
)


def extract_video(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas: frame-SAMPLE each clip (decode only N_SAMPLE evenly-spaced
    frames via the container's length-prefix index — never the full clip),
    then per-clip invariant flags + sampled-frame features."""
    for pdf in batches:
        rows = []
        for r in pdf.itertuples(index=False):
            rec = dict(video_id=r.video_id, fmt=None, fps=None, n_frames=None,
                       n_sampled=None, decode_ok=False, frames_ok=False,
                       duration_s=None, brightness=None, motion=None)
            try:
                data = bytes(r.bytes)
                f = videocodec.features(r.video_id, data)
                rec.update(
                    fmt=f["fmt"], fps=f["fps"], n_frames=f["n_frames"],
                    n_sampled=f["n_sampled"],
                    decode_ok=bool(
                        f["fmt"] == r.fmt and f["fps"] == r.fps
                        and f["n_frames"] == r.n_frames
                        and f["w"] == r.w and f["h"] == r.h
                    ),
                    frames_ok=videocodec.frames_ok(r.video_id, data),
                    duration_s=f["duration_s"], brightness=f["brightness"],
                    motion=f["motion"],
                )
            except (ValueError, NotImplementedError):
                pass  # corrupt/unsupported -> nulls, counted downstream
            rows.append(rec)
        yield pd.DataFrame(rows, columns=[f.name for f in VIDEO_FEATURES_SCHEMA.fields])


def multimodal_video(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-format video frame-sampling rollup. Aggregates are
    order-independent (counts, int sums, min/max) — no double SUMs."""
    feats = _videos(spark, sf_dir).mapInPandas(extract_video, VIDEO_FEATURES_SCHEMA)
    return (
        feats.groupBy("fmt")
        .agg(
            F.count("*").alias("n_videos"),
            F.sum(F.when(F.col("decode_ok"), 1).otherwise(0)).alias("decode_pass"),
            F.sum(F.when(F.col("frames_ok"), 1).otherwise(0)).alias("frames_pass"),
            F.sum(F.col("n_frames").cast("bigint")).alias("total_frames"),
            F.sum(F.col("n_sampled").cast("bigint")).alias("total_sampled"),
            F.min("fps").alias("min_fps"),
            F.max("fps").alias("max_fps"),
            F.min("duration_s").alias("min_duration_s"),
            F.max("duration_s").alias("max_duration_s"),
            F.max("brightness").alias("max_brightness"),
            F.max("motion").alias("max_motion"),
        )
        .orderBy("fmt")
    )


# composed audio/video curation gates (the audio/video twins of image_curate,
# closing the per-payload VERDICT across all three modalities): thresholds
# over the single-decode feature stage. Chosen so every content gate fires on
# this corpus (audio 24/29/12 of 200; video 14/36/9 of 100); the decode gates
# guard the same except-path the extractors already count.
AUDIO_MIN_S = 0.08          # too_short: clips under 80 ms
AUDIO_CLIP_FRAC_T = 0.018   # clipped: > 1.8% of samples at int16 full scale
AUDIO_RMS_MIN = 18700.0     # quiet: int16 RMS floor
VIDEO_MIN_S = 0.5           # too_short: clips under half a second
VIDEO_MIN_FPS = 12          # low_fps: slideshow-rate containers
VIDEO_MOTION_MIN = 47.5     # static: mean inter-frame delta floor


def audio_curate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-clip keep/drop curation verdict — the audio twin of `image_curate`:
    decode/reference-integrity gates from the single-decode feature stage,
    then duration, clipping-ratio, and loudness gates with drop-reason
    precedence. ONE decode pass (Arrow mapInPandas), the verdict itself is a
    map-only projection — zero shuffles, so at 10^10 clips the plan stays
    embarrassingly parallel. Real loudness/quality models swap into the same
    plan shape (score column in, thresholds unchanged)."""
    feats = _audios(spark, sf_dir).mapInPandas(extract_audio, AUDIO_FEATURES_SCHEMA)
    clip_frac = F.col("n_clipped").cast("double") / F.col("n_samples").cast("double")
    reason = (
        F.when(~F.col("decode_ok"), F.lit("decode_failed"))
        .when(~F.col("samples_ok"), F.lit("samples_mismatch"))
        .when(F.col("duration_s") < AUDIO_MIN_S, F.lit("too_short"))
        .when(clip_frac > AUDIO_CLIP_FRAC_T, F.lit("clipped"))
        .when(F.col("rms") < AUDIO_RMS_MIN, F.lit("quiet"))
        .otherwise(F.lit("kept"))
    )
    return (
        feats.select("audio_id", "fmt", "duration_s", reason.alias("drop_reason"))
        .withColumn("keep", F.col("drop_reason") == "kept")
    )


def video_curate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-clip keep/drop curation verdict — the video twin of `image_curate`:
    container/frame-integrity gates from the frame-SAMPLED feature stage
    (never a full decode), then duration, frame-rate, and motion gates with
    drop-reason precedence. Map-only after the sampling pass — zero
    shuffles."""
    feats = _videos(spark, sf_dir).mapInPandas(extract_video, VIDEO_FEATURES_SCHEMA)
    reason = (
        F.when(~F.col("decode_ok"), F.lit("decode_failed"))
        .when(~F.col("frames_ok"), F.lit("frames_mismatch"))
        .when(F.col("duration_s") < VIDEO_MIN_S, F.lit("too_short"))
        .when(F.col("fps") < VIDEO_MIN_FPS, F.lit("low_fps"))
        .when(F.col("motion") < VIDEO_MOTION_MIN, F.lit("static"))
        .otherwise(F.lit("kept"))
    )
    return (
        feats.select("video_id", "fmt", "fps", "duration_s", reason.alias("drop_reason"))
        .withColumn("keep", F.col("drop_reason") == "kept")
    )


# ---------------------------------------------------------------------------
# image near-dup: bucketed Hamming join over the phash metadata column
# ---------------------------------------------------------------------------

VARIANT_EVERY = 4  # every 4th base image gets a planted near-duplicate variant
IMG_HAMMING_T = 6  # max phash Hamming distance for a near-dup pair

# Manku-style multi-index: split the 64-bit phash into 8 bytes and index every
# C(8,2)=28 byte-PAIR as a 16-bit key. Pigeonhole: <= IMG_HAMMING_T (6)
# differing bits touch at most 6 of the 8 bytes, leaving >= 2 clean bytes
# whose pair the two hashes share — so the candidate rule is COMPLETE for the
# advertised threshold (the old 4x16-bit scheme was only complete for <= 3).
# The 16-bit key width keeps per-bucket sizes identical to the old scheme at
# any corpus size; the cost is 28 exploded rows per image instead of 4.
_PH_PAIRS = [(i, j) for i in range(8) for j in range(i + 1, 8)]


def _pair_blocks(df: DataFrame, idcol: str, phcol: str, keep: tuple = ()) -> DataFrame:
    """28 (k, blk) index rows per hash. `keep` carries extra columns through
    the explode — a streaming probe needs the phash alongside its blocks,
    because joining the candidate set back to a second branch of the same
    stream would be a (forbidden-in-complete-mode) stream-stream join."""
    structs = [
        F.struct(
            F.lit(k).alias("k"),
            (
                F.shiftrightunsigned(phcol, 8 * i).bitwiseAND(F.lit(0xFF)) * 256
                + F.shiftrightunsigned(phcol, 8 * j).bitwiseAND(F.lit(0xFF))
            ).alias("blk"),
        )
        for k, (i, j) in enumerate(_PH_PAIRS)
    ]
    return df.select(idcol, *keep, F.explode(F.array(*structs)).alias("kb")).select(
        idcol, *keep, F.col("kb.k").alias("k"), F.col("kb.blk").alias("blk")
    )


def _hamming_pairs(
    sig: DataFrame, idcol: str, hcol: str, a: str, b: str, t: int
) -> DataFrame:
    """Block-bucketed Hamming-join core shared by the image/audio/video
    near-dup tiers: every 64-bit signature is indexed by its 28 byte-pair
    16-bit keys (`_pair_blocks`; pigeonhole-complete for Hamming <= 6), the
    block self-join yields candidates, and the exact bit_count(xor) verify
    runs on candidates only. All flat codegen expressions, one shuffle for
    the block self-join — the shape that survives 10^10 rows because bucket
    sizes are set by the 16-bit key width, not the corpus. *sig* feeds the
    blocks and both pair sides, so callers pass it eagerly checkpointed.

    Self-pairs keep this plan rather than `_hamming_probe(sig, sig)` +
    `a < b`: that variant finds the same pairs but lost all 5 alternating
    runs for each modality at sf0.01, `local[4]` (medians 1.2-1.4x slower;
    CHANGES.md has the table)."""
    blocks = _pair_blocks(sig, idcol, hcol)
    cand = (
        blocks.select(F.col(idcol).alias(a), "k", "blk")
        .join(blocks.select(F.col(idcol).alias(b), "k", "blk"), ["k", "blk"])
        .filter(F.col(a) < F.col(b))
        .select(a, b)
        .distinct()
    )
    sa = sig.select(F.col(idcol).alias(a), F.col(hcol).alias("_ha"))
    sb = sig.select(F.col(idcol).alias(b), F.col(hcol).alias("_hb"))
    return (
        cand.join(sa, a)
        .join(sb, b)
        .withColumn("hamming", F.bit_count(F.col("_ha").bitwiseXOR(F.col("_hb"))).cast("int"))
        .filter(F.col("hamming") <= t)
        .select(a, b, "hamming")
    )


def _index_blocks(index: DataFrame) -> DataFrame:
    """Static side of `_hamming_probe`: (index_id, phash) block-exploded into
    (index_id, ph_i, k, blk), the hash carried through as ph_i. At 10^10
    indexed images this is a bucketed table on (k, blk)."""
    idx = index.select("index_id", F.col("phash").alias("ph_i"))
    return _pair_blocks(idx, "index_id", "ph_i", keep=("ph_i",))


def _hamming_probe(probe: DataFrame, index: DataFrame, t: int) -> DataFrame:
    """The one probe of a phash set against a static index, shared by the
    batch (`image_decontaminate`) and streaming (`stream_phash`) plans — the
    stream-static shape of "Distributed Streaming Set Similarity Join"
    (ICDE 2020): a partitioned index that the probe side looks up.

    ``probe``: (image_id, phash), batch or streaming; ``index``: (index_id,
    phash), static. Both sides carry their hash through the 28-key explode,
    so ONE equi-join on (k, blk) feeds the exact bit_count(xor) verify with
    no join back to a second branch of the probe (which a stream could not
    do). Returns one row per (image_id, index_id) within Hamming <= *t*,
    self matches excluded; min() only collapses the multi-block duplicate
    candidates (hamming is constant per pair)."""
    blocks = _pair_blocks(
        probe.select("image_id", F.col("phash").alias("ph_p")), "image_id", "ph_p", keep=("ph_p",)
    )
    return (
        blocks.join(_index_blocks(index), ["k", "blk"])
        .withColumn("hamming", F.bit_count(F.col("ph_p").bitwiseXOR(F.col("ph_i"))).cast("int"))
        .filter((F.col("hamming") <= t) & (F.col("image_id") != F.col("index_id")))
        .groupBy("image_id", "index_id")
        .agg(F.min("hamming").alias("hamming"))
    )


def _variant_rows(doc_id: int) -> list[dict]:
    rows = _image_rows(doc_id)
    if doc_id % VARIANT_EVERY == 0:
        v = imagecodec.variant_row(f"img-{doc_id}", seed=42)
        rows.append({**v, "caption": rows[0]["caption"]})
    return rows


def _images_with_variants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Images table plus planted near-duplicate variants (``img-{id}-v`` with
    perturbed pixels) so phash dedup has genuine near-dup structure to find."""
    return _payloads(spark, sf_dir, N_IMAGES, _variant_rows, IMAGES_SCHEMA)


def _image_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(image_id, w, h, phash) of `_images_with_variants`, generated once and
    eagerly checkpointed: the input of every image pair plan, and of
    `image_curate`'s gates beside its pair graph."""
    return (
        _images_with_variants(spark, sf_dir)
        .select("image_id", "w", "h", "phash")
        .localCheckpoint(eager=True)
    )


def image_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate image pairs by phash Hamming distance, found the way a
    10^10-image corpus has to: the 64-bit phash METADATA column (computed once
    at ingest — no decode in this query) is indexed by all 28 byte-pair
    16-bit keys (see _PH_PAIRS: pigeonhole-complete for Hamming <= 6 — at
    most 6 flipped bits leave >= 2 untouched bytes, so some byte-pair key
    matches exactly — covering the <= {IMG_HAMMING_T} threshold; same
    candidate rule in the oracle so both engines see identical pairs); the
    exact bit_count(xor) verify runs on candidates only. All flat codegen expressions, one shuffle for the
    block self-join."""
    return _hamming_pairs(
        _image_meta(spark, sf_dir), "image_id", "phash", "img_a", "img_b", IMG_HAMMING_T
    )


# ---------------------------------------------------------------------------
# audio / video near-dup: the same bucketed Hamming join over per-modality
# 64-bit ingest fingerprints (closing the dedup tier across all three
# payload modalities, like audio_curate/video_curate closed curation)
# ---------------------------------------------------------------------------

AFP_HAMMING_T = 6  # acoustic-fingerprint near-dup threshold (28-block complete)
VID_HAMMING_T = 6  # temporal-phash near-dup threshold

_AFP_SCHEMA = T.StructType(
    [
        T.StructField("audio_id", T.StringType(), False),
        T.StructField("afp", T.LongType(), False),
    ]
)
_VFP_SCHEMA = T.StructType(
    [
        T.StructField("video_id", T.StringType(), False),
        T.StructField("vhash", T.LongType(), False),
    ]
)


def _afp_rows(doc_id: int) -> list[dict]:
    clips = _audio_rows(doc_id)
    if doc_id % VARIANT_EVERY == 0:
        clips.append(audiocodec.variant_row(clips[0]["audio_id"], seed=42))
    return [{"audio_id": c["audio_id"], "afp": audiocodec.fingerprint_of(c["bytes"])} for c in clips]


def _vfp_rows(doc_id: int) -> list[dict]:
    clips = _video_rows(doc_id)
    if doc_id % VARIANT_EVERY == 0:
        clips.append(videocodec.variant_row(clips[0]["video_id"], seed=42))
    return [{"video_id": c["video_id"], "vhash": videocodec.vhash64(c["bytes"])} for c in clips]


def _audio_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(audio_id, afp) signature table for base clips + planted near-dup
    variants (every VARIANT_EVERY'th base gets an ``{id}-v`` with perturbed
    samples — audiocodec.variant_row). This is the ingest-time fingerprint
    step inlined (the sandbox AUDIO_SCHEMA carries no afp column the way the
    input_hint images table carries phash): ONE decode per clip here, and
    the dedup plan downstream is metadata-only — it never touches bytes."""
    return _payloads(spark, sf_dir, N_AUDIO, _afp_rows, _AFP_SCHEMA)


def _video_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(video_id, vhash) signature table for base clips + planted variants
    (videocodec.variant_row: quadrant brightness wobble). vhash is the
    temporal-mean phash of the SAMPLED frames — the fingerprint costs the
    same O(N_SAMPLE) partial decode the feature pass already pays at ingest;
    the dedup plan downstream never decodes anything."""
    return _payloads(spark, sf_dir, N_VIDEO, _vfp_rows, _VFP_SCHEMA)


def audio_fingerprint_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate audio pairs by acoustic-fingerprint Hamming distance —
    the audio twin of `image_phash_neardup`, found the way a 10^10-clip
    corpus has to: the 64-bit energy-contour fingerprint (ingest metadata,
    one decode in `_audio_fingerprints`) is indexed by all 28 byte-pair
    16-bit keys; the exact bit_count(xor) verify runs on candidates only.
    Planted variants sit at Hamming 0-6 of their base (measured), unrelated
    white-noise clips at >= 22 — the threshold separates them exactly."""
    sig = _audio_fingerprints(spark, sf_dir).localCheckpoint(eager=True)
    return _hamming_pairs(sig, "audio_id", "afp", "aud_a", "aud_b", AFP_HAMMING_T)


def video_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate video pairs by temporal-phash Hamming distance — the
    video twin of `image_phash_neardup`. The 64-bit vhash (temporal-mean
    phash over sampled frames, ingest metadata) goes through the same
    28-byte-pair block index + candidate-only exact verify; re-encoded /
    brightness-wobbled variants sit at Hamming 0-5 of their base (measured),
    unrelated clips at >= 22."""
    sig = _video_fingerprints(spark, sf_dir).localCheckpoint(eager=True)
    return _hamming_pairs(sig, "video_id", "vhash", "vid_a", "vid_b", VID_HAMMING_T)


IMG_DECON_MOD = 10  # base image ids with n % MOD == 0 form the benchmark set

# a signed int64 column {c} as its unsigned 64-bit value (HUGEINT), so that
# integer division by 2^(8i) is the logical shift Spark's shiftrightunsigned does
_SQL_U64 = (
    "(CAST({c} AS HUGEINT) + CASE WHEN {c} < 0 "
    "THEN CAST(18446744073709551616 AS HUGEINT) ELSE CAST(0 AS HUGEINT) END)"
)


def _sql_blocks(src: str, idcol: str, hcol: str) -> str:
    """DuckDB twin of `_pair_blocks`: the 28 (k, blk) byte-pair keys of every
    64-bit hash *hcol* in *src*, numbered by `_PH_PAIRS` exactly as in Spark."""
    u64 = _SQL_U64.format(c=hcol)
    byte = lambda i: f"(({u64} // (CAST(1 AS HUGEINT) << (8 * {i}))) % 256)"  # noqa: E731
    pairs = ", ".join(f"({k}, {i}, {j})" for k, (i, j) in enumerate(_PH_PAIRS))
    return (
        f"SELECT {idcol}, k, CAST({byte('i')} * 256 + {byte('j')} AS BIGINT) AS blk\n"
        f"  FROM {src}, (VALUES {pairs}) AS pp(k, i, j)"
    )


def _image_labels(meta: DataFrame) -> DataFrame:
    """(doc=image_id, label) star labels of the phash near-dup pair graph of
    *meta* (`_image_meta`), near-dup members only — the Spark twin of the
    `sql_components` oracle over `_sql_image_pairs`. The pair plan is
    `image_phash_neardup`'s."""
    from .dedup import _star_labels

    return _star_labels(_hamming_pairs(meta, "image_id", "phash", "doc_a", "doc_b", IMG_HAMMING_T))


def image_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image-dedup VERDICT: group phash near-duplicate images into connected
    components and pick one keeper per cluster — the step that decides which
    images a 10^10-image training corpus actually keeps.

    Components come from the same large-star/small-star alternation as text
    dedup (`dedup._star_labels`, O(log n) shuffle rounds regardless of
    component diameter) over `image_phash_neardup`'s bucketed pair graph —
    phash metadata only, no decode anywhere in the plan. Keeper = the
    lexicographic minimum image_id of each component (strings compare
    identically in Spark and DuckDB). Every labeled node is in >= 1 pair, so
    every reported cluster has >= 2 members by construction. The DuckDB
    oracle is a recursive CTE over the identical pair set."""
    return (
        _image_labels(_image_meta(spark, sf_dir))
        .groupBy(F.col("label").alias("keeper_id"))
        .agg(F.count("*").alias("n_images"), F.max("doc").alias("last_member"))
    )


# LAION-style image curation gates (metadata-only — the phash/w/h columns
# are ingest-time metadata, so the verdict plan never touches the bytes)
IMG_MIN_SIDE = 24    # drop images whose short side is under this
IMG_MAX_ASPECT = 2   # drop images with max(w,h) > this * min(w,h)


def image_curate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-image keep/drop curation verdict — the image twin of
    `text.corpus_pipeline_full`: near-duplicate gate (non-keeper members of
    the phash cluster graph, same star labels as `image_dedup_clusters`),
    then minimum-resolution and aspect-ratio gates on the metadata columns,
    with drop-reason precedence. No decode anywhere in the plan; at 10^10
    images the only wide ops are the bucketed pair join and one label join.
    One `_image_meta` table feeds both the pair graph and the gates."""
    imgs = _image_meta(spark, sf_dir)
    labels = _image_labels(imgs)
    reason = (
        F.when(
            F.col("label").isNotNull() & (F.col("label") != F.col("image_id")),
            F.lit("near_duplicate"),
        )
        .when(F.least("w", "h") < IMG_MIN_SIDE, F.lit("too_small"))
        .when(F.greatest("w", "h") > IMG_MAX_ASPECT * F.least("w", "h"), F.lit("bad_aspect"))
        .otherwise(F.lit("kept"))
    )
    return (
        imgs.join(labels, imgs.image_id == labels.doc, "left")
        .withColumn("drop_reason", reason)
        .select(
            "image_id", "w", "h", "drop_reason",
            (F.col("drop_reason") == "kept").alias("keep"),
        )
    )


# image-text alignment gate (the LAION/CLIP-score curation stage)
N_MISCAP = 13     # every Nth image carries another image's caption (planted noise)
MISCAP_SHIFT = 7  # ... specifically the caption of doc (id + SHIFT) % N_IMAGES
ALIGN_T = 0.9     # keep gate; planted mismatches measure |cos| <= 0.34 on this corpus


def image_caption_align(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LAION-style image-text alignment gate: score every (image, caption)
    pair by cosine in a shared embedding space, keep pairs scoring >= ALIGN_T.

    Two-tower stand-in (real encoders aren't in this container): the vision
    tower is the precomputed per-image embedding table — at ingest a real
    image encoder would mapInPandas the binaries into exactly this shape
    (the feature stage of `multimodal_image`); the text tower resolves the
    caption's referenced payload id into the same space (regexp tokenizer +
    embedding lookup), so a caption that describes a DIFFERENT image lands
    on that image's vector. Planted noise: every N_MISCAP-th image carries
    another image's caption and must gate out (matched pairs score 1.0,
    planted mismatches <= 0.34 here — the gate has real margin).

    Scale shape: two equi-joins on the embedding key and the embedding
    tier's one similarity rule (`similarity._cos`); norms computed once per
    vector before the joins, never per pair. No similarity self-join anywhere
    (this is 1:1 scoring, not retrieval; retrieval is
    embed_lsh_ann/embed_ivf_ann's job). The caps side is hard-capped at
    N_IMAGES rows by the generator's LIMIT — a true bounded constant, so it
    (and the ≤ N_IMAGES-row first-join output) carry explicit broadcast
    hints: the optimizer can't see through mapInPandas stats and otherwise
    builds the hash on the EMBEDDINGS scan (measured at sf1: it broadcast
    the 1M-row table to probe 200 rows — 11.7 s; hinted plan streams both
    embedding scans with zero shuffles and zero big broadcasts). Scoring an
    UNBOUNDED image set instead: drop the hints and let both joins
    sort-merge on the co-partitionable embedding key."""
    from .similarity import _cos, _with_norm

    doc_id = F.substring("image_id", 5, 20).cast("bigint")
    miscap = F.concat(
        F.lit("caption for img-"),
        ((doc_id + MISCAP_SHIFT) % N_IMAGES).cast("string"),
    )
    caps = (
        _images(spark, sf_dir)
        .select(
            "image_id",
            F.when(doc_id % N_MISCAP == 0, miscap).otherwise(F.col("caption")).alias("caption"),
            doc_id.alias("doc_id"),
        )
        .withColumn("ref_id", F.regexp_extract("caption", r"img-(\d+)$", 1).cast("bigint"))
    )
    e = table(spark, sf_dir, "embeddings")
    v = _with_norm(e, "vid", "vemb")
    t = _with_norm(e, "tid", "temb")
    j1 = F.broadcast(F.broadcast(caps).join(v, caps.doc_id == v.vid))
    return (
        j1.join(t, j1.ref_id == t.tid)
        .withColumn("align_sim", _cos("vemb", "temb"))
        .select(
            "image_id", "align_sim",
            (F.col("align_sim") >= ALIGN_T).alias("keep"),
        )
    )


# ---------------------------------------------------------------------------
# contrastive hard-negative mining over the ANN index
# ---------------------------------------------------------------------------
#
# CLIP-style contrastive training wants, for each image, the captions that
# are MOST similar without being matches — in-batch random negatives are too
# easy once the model trains past the basics. At corpus scale the candidate
# generator has to be the ANN index, not a similarity self-join: this op
# composes on embed_ivf_ann (trained coarse quantizer, nprobe cells,
# exact re-rank — see similarity.py) and then only filters and re-ranks its
# bounded TOP_K-per-query output: the window below partitions by query over
# <= TOP_K rows, so the mining stage adds no wide exchange of its own.
#
# The claimed positive (the pair's ref, which for planted miscaptions is NOT
# the image's own id) is excluded — a retrieved true match is a false
# negative, the classic mining bug — and self always is (the ANN join
# already drops self-pairs).

HN_K = 3  # hard negatives mined per image

# Invariant: excluding the claimed positive can cost one ANN candidate and
# a sparse IVF cell can return one fewer than TOP_K, so a full HN_K set per
# query needs TOP_K >= HN_K + 2. Checked at import so retuning either knob
# (or nprobe) can't silently starve the mining stage; per-query shortfalls
# at a given scale remain visible because the pytest invariant pins exactly
# HN_K rows per query (tests/test_analytics.py).
from .similarity import TOP_K as _ANN_TOP_K  # noqa: E402

assert _ANN_TOP_K >= HN_K + 2, (
    f"caption_hard_negatives needs TOP_K >= HN_K + 2 "
    f"(got TOP_K={_ANN_TOP_K}, HN_K={HN_K}); a sparse IVF cell plus the "
    f"positive exclusion would silently yield short negative sets"
)


def caption_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-HN_K hardest negative caption refs per image query: nearest ANN
    neighbors of the image's vector, minus the pair's claimed positive.

    Columns: image_id, neg_ref (candidate caption's payload id), hn_rank,
    sim (exact re-ranked cosine from the ANN stage, rounded 6)."""
    from .similarity import _top_k, embed_ivf_ann

    ann = embed_ivf_ann(spark, sf_dir)  # query_id, neighbor_id, rank, sim
    q = F.col("query_id")
    claimed_ref = F.when(
        q % N_MISCAP == 0, (q + MISCAP_SHIFT) % N_IMAGES
    ).otherwise(q)
    return (
        _top_k(ann.filter(F.col("neighbor_id") != claimed_ref), HN_K, "hn_rank")
        .select(
            F.concat(F.lit("img-"), q.cast("string")).alias("image_id"),
            F.col("neighbor_id").alias("neg_ref"),
            "hn_rank",
            "sim",
        )
    )


@functools.lru_cache(maxsize=None)
def _sql_caption_hard_negatives() -> str:
    from .similarity import SQL_EMBED_IVF_ANN, _sql_top_k

    return f"""
WITH ann AS ({SQL_EMBED_IVF_ANN}),
negs AS (
  SELECT query_id, neighbor_id, sim
  FROM ann
  WHERE neighbor_id != CASE WHEN query_id % {N_MISCAP} = 0
                            THEN (query_id + {MISCAP_SHIFT}) % {N_IMAGES}
                            ELSE query_id END
)
SELECT 'img-' || CAST(query_id AS VARCHAR) AS image_id,
       neighbor_id AS neg_ref, hn_rank, sim
FROM ({_sql_top_k('negs', HN_K, 'hn_rank')})
"""


THUMB_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType(), False),
        T.StructField("w", T.IntegerType(), True),
        T.StructField("h", T.IntegerType(), True),
        T.StructField("tw", T.IntegerType(), True),
        T.StructField("th", T.IntegerType(), True),
        T.StructField("thumb", T.BinaryType(), True),
    ]
)


def _thumbnails(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The resize TRANSFORM of the decode / feature-extract / resize /
    frame-sample quartet: decode → block-mean area resize → re-encode, one
    Arrow pass, emitting a NEW binary column (the other image stages only
    read binaries). Map-only — no shuffle at any scale; at 10^10 images this
    is a mapInPandas over the bucketed images table with output written
    partition-aligned. Undecodable inputs pass through with null thumb
    (production semantics: flagged, not fatal)."""

    def resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for iid, data in zip(pdf["image_id"], pdf["bytes"]):
                try:
                    px, w, h, _fmt = imagecodec.decode(bytes(data))
                except ValueError:
                    rows.append((iid, None, None, None, None, None))
                    continue
                tp = imagecodec.resize_block_mean(px)
                rows.append(
                    (iid, w, h, tp.shape[1], tp.shape[0], imagecodec.encode(tp, "png"))
                )
            yield pd.DataFrame(rows, columns=[f.name for f in THUMB_SCHEMA.fields])

    return _images(spark, sf_dir).mapInPandas(resize, THUMB_SCHEMA)


def image_thumbnail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered projection of the thumbnail transform: drops the binary
    column and pins it EXACTLY via the JVM-side crc32 over the emitted
    bytes — so parity proves the numpy-resized, re-encoded binary crossed
    Arrow into the JVM intact (the oracle's crc is pure-Python zlib over an
    independent single-process run of the same codec)."""
    return _thumbnails(spark, sf_dir).select(
        "image_id", "w", "h", "tw", "th",
        F.length("thumb").alias("thumb_len"),
        F.crc32("thumb").alias("thumb_crc"),
    )


def image_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image-side benchmark decontamination: flag training images within
    phash Hamming <= IMG_HAMMING_T of ANY held-out benchmark image — the
    multimodal twin of `corpus_decontaminate`. The training images probe the
    benchmark images through `_hamming_probe` (the same byte-pair block rule
    as image_phash_neardup, complete for the threshold), so the probe is a
    bounded equi-join against the (small, broadcastable at scale) benchmark
    block table — never an all-pairs scan. The planted `img-N-v` variants
    of benchmark images are the ground-truth hits."""
    sig = (
        _images_with_variants(spark, sf_dir)
        .select("image_id", "phash")
        .localCheckpoint(eager=True)
    )
    is_bench = (~F.col("image_id").endswith("-v")) & (
        F.regexp_extract("image_id", r"img-(\d+)", 1).cast("long") % IMG_DECON_MOD == 0
    )
    bench = sig.filter(is_bench).select(F.col("image_id").alias("index_id"), "phash")
    return (
        _hamming_probe(sig.filter(~is_bench), bench, IMG_HAMMING_T)
        .groupBy("image_id")
        .agg(
            F.count("*").alias("n_bench_hits"),
            F.min("hamming").alias("best_hamming"),
            F.min("index_id").alias("first_bench"),
        )
        .orderBy("image_id")
    )


@functools.lru_cache(maxsize=None)
def _sql_image_decontaminate() -> str:
    return f"""
WITH expected(image_id, phash) AS (
  VALUES {_values(_expected_phashes())}
),
{_sql_variant_ids(N_IMAGES)},
ph AS (SELECT image_id, phash FROM ids JOIN expected USING (image_id)),
bench AS (
  SELECT image_id AS bench_id, phash AS bph FROM ph
  WHERE image_id NOT LIKE '%-v'
    AND CAST(regexp_extract(image_id, 'img-(\\d+)', 1) AS BIGINT) % {IMG_DECON_MOD} = 0
),
train AS (
  SELECT * FROM ph WHERE image_id NOT IN (SELECT bench_id FROM bench)
),
tblk AS ({_sql_blocks("train", "image_id", "phash")}),
bblk AS ({_sql_blocks("bench", "bench_id", "bph")}),
cand AS (
  SELECT DISTINCT t.image_id, b.bench_id
  FROM tblk t JOIN bblk b ON t.k = b.k AND t.blk = b.blk
)
SELECT c.image_id,
       count(*) AS n_bench_hits,
       CAST(min(bit_count(xor(t.phash, b.bph))) AS INT) AS best_hamming,
       min(c.bench_id) AS first_bench
FROM cand c
JOIN train t ON t.image_id = c.image_id
JOIN bench b ON b.bench_id = c.bench_id
WHERE bit_count(xor(t.phash, b.bph)) <= {IMG_HAMMING_T}
GROUP BY c.image_id
ORDER BY c.image_id
"""


@functools.lru_cache(maxsize=None)
def _expected_phashes() -> list[tuple]:
    """Driver-side (image_id, phash) ground truth for base + variant images."""
    return [(r["image_id"], r["phash"]) for i in range(N_IMAGES) for r in _variant_rows(i)]


@functools.lru_cache(maxsize=None)
def _expected_afps() -> list[tuple]:
    """Driver-side (audio_id, fingerprint) ground truth for base + variant
    clips — same pure-Python codec path as the executors, decoded bytes in."""
    return [(r["audio_id"], r["afp"]) for i in range(N_AUDIO) for r in _afp_rows(i)]


@functools.lru_cache(maxsize=None)
def _expected_vhashes() -> list[tuple]:
    """Driver-side (video_id, vhash) ground truth for base + variant clips."""
    return [(r["video_id"], r["vhash"]) for i in range(N_VIDEO) for r in _vfp_rows(i)]


def _sql_hamming_pairs(rows: list[tuple], prefix: str, n: int, a: str, b: str, t: int) -> str:
    """Near-dup oracle for a (id, 64-bit fingerprint) modality — images,
    audio and video: the expected fingerprints (driver-side pure-Python
    codec) are inlined as VALUES and joined against the actual documents id
    prefix (an id drift fails loudly); the SQL then mirrors the SAME
    28-byte-pair candidate rule + exact bit_count verify as `_hamming_pairs`,
    so both engines see identical pairs by construction."""
    return f"""
WITH expected(id, fp) AS (
  VALUES {_values(rows)}
),
{_sql_variant_ids(n, prefix, "id")},
fp AS (SELECT id, fp FROM ids JOIN expected USING (id)),
blk AS ({_sql_blocks("fp", "id", "fp")}),
cand AS (
  SELECT DISTINCT x.id AS ia, y.id AS ib
  FROM blk x JOIN blk y ON x.k = y.k AND x.blk = y.blk AND x.id < y.id
)
SELECT c.ia AS {a}, c.ib AS {b},
       CAST(bit_count(xor(pa.fp, pb.fp)) AS INT) AS hamming
FROM cand c
JOIN fp pa ON pa.id = c.ia
JOIN fp pb ON pb.id = c.ib
WHERE bit_count(xor(pa.fp, pb.fp)) <= {t}
"""


@functools.lru_cache(maxsize=None)
def _sql_image_pairs() -> str:
    return _sql_hamming_pairs(
        _expected_phashes(), "img", N_IMAGES, "img_a", "img_b", IMG_HAMMING_T
    )


@functools.lru_cache(maxsize=None)
def _expected_thumbs() -> list[tuple]:
    """Driver-side thumbnail ground truth — same codec path run pure-Python
    in-process, crc via zlib (vs Spark's JVM java.util.zip.CRC32: same
    polynomial, so a mismatch means the bytes differ)."""
    out = []
    for i in range(N_IMAGES):
        iid = f"img-{i}"
        r = imagecodec.image_row(iid, seed=42)
        px, w, h, _fmt = imagecodec.decode(r["bytes"])
        tp = imagecodec.resize_block_mean(px)
        tb = imagecodec.encode(tp, "png")
        out.append((iid, w, h, tp.shape[1], tp.shape[0], len(tb), zlib.crc32(tb)))
    return out


@functools.lru_cache(maxsize=None)
def _expected_dims() -> list[tuple]:
    """Driver-side (image_id, w, h) ground truth for base + variant images."""
    return [(r["image_id"], r["w"], r["h"]) for i in range(N_IMAGES) for r in _variant_rows(i)]


# ---------------------------------------------------------------------------
# DuckDB oracles: driver-side expected metrics inlined as VALUES tables
# ---------------------------------------------------------------------------


def _sql_lit(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        return repr(v)  # shortest round-trip — parses back to the same double
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    return str(v)


def _values(rows: list[tuple]) -> str:
    return ",\n  ".join("(" + ", ".join(_sql_lit(v) for v in r) + ")" for r in rows)


@functools.lru_cache(maxsize=None)
def _expected_image_metrics() -> list[tuple]:
    """Pure-Python expected per-image metrics, same semantics as
    udfs.decode_validate but computed in-process (the feature columns call
    the identical imagecodec.features numpy path, so doubles are bit-equal)."""
    out = []
    for i in range(N_IMAGES):
        iid = f"img-{i}"
        r = imagecodec.image_row(iid, seed=42)
        px, w, h, fmt = imagecodec.decode(r["bytes"])
        ref = imagecodec.reference_pixels(iid, w, h)
        if fmt in imagecodec.LOSSY_FMTS:
            p = imagecodec.psnr(px, ref)
            psnr_db = None if math.isinf(p) else p
            pixels_ok = p >= 40.0
        else:
            psnr_db, pixels_ok = None, bool(np.array_equal(px, ref))
        feats = imagecodec.features(px)
        out.append((
            iid, fmt, w, h,
            int(w == r["w"] and h == r["h"] and fmt == r["fmt"]),
            int(pixels_ok),
            int(imagecodec.phash64(px) == r["phash"]),
            1,  # caption_ok: the query compares the caption to itself
            psnr_db,
            feats["brightness"],
            feats["thumb_var"],
        ))
    return out


@functools.lru_cache(maxsize=None)
def _expected_audio_metrics() -> list[tuple]:
    out = []
    for i in range(N_AUDIO):
        aid = f"aud-{i}"
        r = audiocodec.audio_row(aid, seed=42)
        samples, sr, fmt = audiocodec.decode(r["bytes"])
        ref = audiocodec.reference_samples(aid, len(samples))
        if fmt in audiocodec.LOSSY_FMTS:
            ok = audiocodec.snr_db(ref, samples) >= audiocodec.SNR_OK_DB
        else:
            ok = bool(np.array_equal(samples, ref))
        f = audiocodec.features(samples, sr)
        out.append((
            aid, fmt, sr, len(samples),
            int(sr == r["sr"] and len(samples) == r["n_samples"] and fmt == r["fmt"]),
            int(ok), f["duration_s"], f["rms"], f["peak"], f["n_clipped"],
            f["zero_crossings"],
        ))
    return out


@functools.lru_cache(maxsize=None)
def _expected_video_metrics() -> list[tuple]:
    out = []
    for i in range(N_VIDEO):
        vid = f"vid-{i}"
        r = videocodec.video_row(vid, seed=42)
        f = videocodec.features(vid, r["bytes"])
        out.append((
            vid, f["fmt"], f["fps"], f["n_frames"], f["n_sampled"],
            int(
                f["fmt"] == r["fmt"] and f["fps"] == r["fps"]
                and f["n_frames"] == r["n_frames"]
                and f["w"] == r["w"] and f["h"] == r["h"]
            ),
            int(videocodec.frames_ok(vid, r["bytes"])),
            f["duration_s"], f["brightness"], f["motion"],
        ))
    return out


def _sql_sel(n: int, prefix: str = "img", idcol: str = "image_id") -> str:
    """`sel` CTE: the first *n* documents' (doc_id, '{prefix}-{doc_id}')."""
    return (
        f"sel AS (SELECT doc_id, '{prefix}-' || CAST(doc_id AS VARCHAR) AS {idcol}\n"
        f"       FROM (SELECT doc_id FROM documents ORDER BY doc_id LIMIT {n}))"
    )


def _sql_variant_ids(n: int, prefix: str = "img", idcol: str = "image_id") -> str:
    """`sel` plus `ids`: every selected id and, for every VARIANT_EVERY-th
    doc, its '-v' variant. The rule is restated here rather than read from
    the generator, so the oracle still checks the Spark/Arrow plumbing."""
    return (
        f"{_sql_sel(n, prefix, idcol)},\n"
        f"ids AS (SELECT {idcol} FROM sel UNION ALL\n"
        f"        SELECT {idcol} || '-v' FROM sel WHERE doc_id % {VARIANT_EVERY} = 0)"
    )


# Oracle SQL for the modality queries embeds driver-side expected-metric
# VALUES tables that cost ~2 s of payload simulation to build.  Every
# builder below is therefore a lazy @lru_cache function, and the module
# exposes ORACLES/LOCAL_ORACLES through __getattr__ (end of file): a fresh
# PYTHON WORKER that unpickles any analytics UDF imports this module and
# must NOT pay the oracle-building cost — Spark's idle-worker pool is a
# round-robin FIFO, so with ~16 pooled workers an eager 2.4 s module import
# was re-paid 16 times across the first 16 python tasks of every
# payload-heavy session (measured: embed_semdedup 11.1 s in-suite vs 2.3 s
# isolated at sf0.1, entirely worker cold-import).


def _sql_expected(cols: str, rows: list[tuple], n: int, prefix: str, idcol: str) -> str:
    """`expected(cols)` CTE over the driver-side per-payload metrics *rows*,
    then the `sel` CTE of the first *n* documents' ids."""
    return f"expected({cols}) AS (\n  VALUES {_values(rows)}\n),\n{_sql_sel(n, prefix, idcol)}"


# one expected-metrics fragment per modality, shared by its rollup and its
# curate (or classify) oracle
@functools.lru_cache(maxsize=None)
def _sql_image_expected() -> str:
    return _sql_expected(
        "image_id, fmt, w, h, decode_ok, pixels_ok, phash_ok, caption_ok, psnr_db,"
        " brightness, thumb_var",
        _expected_image_metrics(), N_IMAGES, "img", "image_id",
    )


@functools.lru_cache(maxsize=None)
def _sql_audio_expected() -> str:
    return _sql_expected(
        "audio_id, fmt, sr, n_samples, decode_ok, samples_ok, duration_s, rms, peak,"
        " n_clipped, zero_crossings",
        _expected_audio_metrics(), N_AUDIO, "aud", "audio_id",
    )


@functools.lru_cache(maxsize=None)
def _sql_video_expected() -> str:
    return _sql_expected(
        "video_id, fmt, fps, n_frames, n_sampled, decode_ok, frames_ok, duration_s,"
        " brightness, motion",
        _expected_video_metrics(), N_VIDEO, "vid", "video_id",
    )


def _sql_multimodal_audio() -> str:
    return f"""
WITH {_sql_audio_expected()}
SELECT fmt, count(*) AS n_clips,
       CAST(sum(decode_ok) AS BIGINT) AS decode_pass,
       CAST(sum(samples_ok) AS BIGINT) AS samples_pass,
       min(sr) AS min_sr, max(sr) AS max_sr,
       CAST(sum(n_samples) AS BIGINT) AS total_samples,
       CAST(sum(n_clipped) AS BIGINT) AS total_clipped,
       CAST(sum(zero_crossings) AS BIGINT) AS total_zero_crossings,
       min(duration_s) AS min_duration_s,
       max(rms) AS max_rms,
       max(peak) AS max_peak
FROM sel JOIN expected USING (audio_id)
GROUP BY fmt ORDER BY fmt
"""


def _sql_multimodal_video() -> str:
    return f"""
WITH {_sql_video_expected()}
SELECT fmt, count(*) AS n_videos,
       CAST(sum(decode_ok) AS BIGINT) AS decode_pass,
       CAST(sum(frames_ok) AS BIGINT) AS frames_pass,
       CAST(sum(n_frames) AS BIGINT) AS total_frames,
       CAST(sum(n_sampled) AS BIGINT) AS total_sampled,
       min(fps) AS min_fps, max(fps) AS max_fps,
       min(duration_s) AS min_duration_s,
       max(duration_s) AS max_duration_s,
       max(brightness) AS max_brightness,
       max(motion) AS max_motion
FROM sel JOIN expected USING (video_id)
GROUP BY fmt ORDER BY fmt
"""

# curate oracles: the per-clip features come from the driver-side pure-Python
# codec path (independent of Spark/Arrow), and the GATE LOGIC is re-stated in
# SQL — so the verdict precedence itself is cross-checked in two engines.
def _sql_audio_curate() -> str:
    return f"""
WITH {_sql_audio_expected()},
v AS (
  SELECT e.audio_id, e.fmt, e.duration_s,
         CASE WHEN e.decode_ok = 0 THEN 'decode_failed'
              WHEN e.samples_ok = 0 THEN 'samples_mismatch'
              WHEN e.duration_s < {AUDIO_MIN_S} THEN 'too_short'
              WHEN CAST(e.n_clipped AS DOUBLE) / CAST(e.n_samples AS DOUBLE)
                   > {AUDIO_CLIP_FRAC_T} THEN 'clipped'
              WHEN e.rms < {AUDIO_RMS_MIN} THEN 'quiet'
              ELSE 'kept' END AS drop_reason
  FROM sel JOIN expected e USING (audio_id)
)
SELECT audio_id, fmt, duration_s, drop_reason, (drop_reason = 'kept') AS keep
FROM v
"""

def _sql_video_curate() -> str:
    return f"""
WITH {_sql_video_expected()},
v AS (
  SELECT e.video_id, e.fmt, e.fps, e.duration_s,
         CASE WHEN e.decode_ok = 0 THEN 'decode_failed'
              WHEN e.frames_ok = 0 THEN 'frames_mismatch'
              WHEN e.duration_s < {VIDEO_MIN_S} THEN 'too_short'
              WHEN e.fps < {VIDEO_MIN_FPS} THEN 'low_fps'
              WHEN e.motion < {VIDEO_MOTION_MIN} THEN 'static'
              ELSE 'kept' END AS drop_reason
  FROM sel JOIN expected e USING (video_id)
)
SELECT video_id, fmt, fps, duration_s, drop_reason, (drop_reason = 'kept') AS keep
FROM v
"""


def multimodal_image(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-format image rollup: decode/validate invariant counts
    (decode/pixels/phash/caption pass, min PSNR per input_hint) AND the
    decoded-feature summary (size ranges, min brightness, max 8×8-resize
    variance) from ONE generator pass, ONE decode mapInPandas, ONE groupBy.

    Formerly two sub-plans (validate + features) joined on fmt — that shape
    generated and decoded every image twice. At corpus scale the decode
    stage dominates this pipeline, so validation and feature extraction now
    share a single pixel buffer inside udfs.decode_validate; the join is
    gone entirely."""
    imgs = _images(spark, sf_dir).withColumn("crawled_caption", F.col("caption"))
    checked = imgs.mapInPandas(udfs.decode_validate, udfs.VALIDATION_SCHEMA)
    agg_ok = lambda c: F.sum(F.when(F.col(c), 1).otherwise(0)).alias(c.replace("_ok", "_pass"))
    return (
        checked.groupBy("fmt")
        .agg(
            F.count("*").alias("n_images"),
            agg_ok("decode_ok"),
            agg_ok("pixels_ok"),
            agg_ok("phash_ok"),
            agg_ok("caption_ok"),
            F.min(F.coalesce("psnr_db", F.lit(99.0))).alias("min_psnr_db"),
            F.sum(F.when(F.col("decode_ok"), 1).otherwise(0)).alias("n_decoded"),
            F.min("w").alias("min_w"),
            F.max("w").alias("max_w"),
            F.min("h").alias("min_h"),
            F.max("h").alias("max_h"),
            # min/max are order-independent and exact on doubles, and the
            # expected values come from the same imagecodec.features numpy
            # path — bit-equal parity without relying on float-sum order
            F.min("brightness").alias("min_brightness"),
            F.max("thumb_var").alias("max_thumb_var"),
        )
        .orderBy("fmt")
    )


def _sql_multimodal_image() -> str:
    return f"""
WITH {_sql_image_expected()}
SELECT fmt, count(*) AS n_images,
       CAST(sum(decode_ok) AS BIGINT) AS decode_pass,
       CAST(sum(pixels_ok) AS BIGINT) AS pixels_pass,
       CAST(sum(phash_ok) AS BIGINT) AS phash_pass,
       CAST(sum(caption_ok) AS BIGINT) AS caption_pass,
       min(coalesce(psnr_db, 99.0)) AS min_psnr_db,
       CAST(sum(decode_ok) AS BIGINT) AS n_decoded,
       min(w) AS min_w, max(w) AS max_w, min(h) AS min_h, max(h) AS max_h,
       min(brightness) AS min_brightness,
       max(thumb_var) AS max_thumb_var
FROM sel JOIN expected USING (image_id)
GROUP BY fmt ORDER BY fmt
"""


QUERIES = {
    "multimodal_image": multimodal_image,
    "multimodal_audio": multimodal_audio,
    "multimodal_video": multimodal_video,
    "image_phash_neardup": image_phash_neardup,
    "image_decontaminate": image_decontaminate,
}

def corpus_multimodal_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS-MODAL keep/drop verdict — the decision a multimodal training
    pipeline actually makes per document: keep iff the TEXT retention
    verdict keeps it (quality + exact-dup keeper, `text.corpus_retention`)
    AND its attached image is not a redundant near-duplicate (phash cluster
    member that is not the cluster keeper) AND its caption aligns with the
    image (`image_caption_align`'s two-tower gate). Docs beyond the image
    table get image_status/caption_status 'none'; images with no near-dup
    are 'unique'; cluster minima are 'keeper'; 'redundant' or 'misaligned'
    sinks the doc.

    Scale shape: all three verdict sides are the already-bucketed plans
    (one fingerprint-window pass for text; block-bucketed pairs + star
    labels for images; two embedding-key equi-joins for alignment) joined
    on doc_id — two extra equi-joins, no new wide op."""
    from .text import corpus_retention

    text_v = corpus_retention(spark, sf_dir).select(
        "doc_id", F.col("keep").alias("text_keep")
    )
    labels = _image_labels(_image_meta(spark, sf_dir))
    sel = (
        table(spark, sf_dir, "documents")
        .select("doc_id").orderBy("doc_id").limit(N_IMAGES)
        .withColumn("image_id", F.concat(F.lit("img-"), F.col("doc_id").cast("string")))
    )
    status = sel.join(labels, sel.image_id == labels.doc, "left").select(
        "doc_id",
        F.when(F.col("label").isNull(), F.lit("unique"))
        .when(F.col("label") == F.col("image_id"), F.lit("keeper"))
        .otherwise(F.lit("redundant"))
        .alias("image_status"),
    )
    align = image_caption_align(spark, sf_dir).select(
        F.substring("image_id", 5, 20).cast("bigint").alias("doc_id"),
        F.col("keep").alias("cap_keep"),
    )
    return (
        text_v.join(status, "doc_id", "left")
        .join(align, "doc_id", "left")
        .withColumn("image_status", F.coalesce("image_status", F.lit("none")))
        .withColumn(
            "caption_status",
            F.when(F.col("cap_keep").isNull(), F.lit("none"))
            .when(F.col("cap_keep"), F.lit("aligned"))
            .otherwise(F.lit("misaligned")),
        )
        .withColumn(
            "keep",
            F.col("text_keep")
            & (F.col("image_status") != "redundant")
            & (F.col("caption_status") != "misaligned"),
        )
        .select("doc_id", "text_keep", "image_status", "caption_status", "keep")
    )

@functools.lru_cache(maxsize=None)
def _sql_image_dedup_clusters() -> str:
    return f"""
SELECT label AS keeper_id, CAST(count(*) AS BIGINT) AS n_images,
       max(doc) AS last_member
FROM {sql_components(_sql_image_pairs(), "img_a", "img_b")}
GROUP BY label
"""


@functools.lru_cache(maxsize=None)
def _oracle_map() -> dict:
    return {
        "multimodal_image": _sql_multimodal_image(),
        "multimodal_audio": _sql_multimodal_audio(),
        "multimodal_video": _sql_multimodal_video(),
        "image_phash_neardup": _sql_image_pairs(),
        "image_decontaminate": _sql_image_decontaminate(),
    }


# cross-modal pipeline verdict: text retention ⋈ image cluster labels.
# Local registry — the driver file is at its 50-row budget.
from .text import SQL_CORPUS_RETENTION as _SQL_RET  # noqa: E402

@functools.lru_cache(maxsize=None)
def _sql_corpus_multimodal_pipeline() -> str:
    return f"""
WITH ret AS ({_SQL_RET.replace(chr(10), ' ')}),
labels AS {sql_components(_sql_image_pairs(), "img_a", "img_b")},
{_sql_sel(N_IMAGES)},
status AS (
  SELECT s.doc_id,
         CASE WHEN l.label IS NULL THEN 'unique'
              WHEN l.label = s.image_id THEN 'keeper'
              ELSE 'redundant' END AS image_status
  FROM sel s LEFT JOIN labels l ON l.doc = s.image_id
)
SELECT r.doc_id, r.keep AS text_keep,
       coalesce(st.image_status, 'none') AS image_status,
       {{caption_status}} AS caption_status,
       (r.keep AND coalesce(st.image_status, 'none') != 'redundant'
               AND {{caption_status}} != 'misaligned') AS keep
FROM ret r LEFT JOIN status st USING (doc_id)
LEFT JOIN (SELECT CAST(substring(image_id, 5) AS BIGINT) AS doc_id,
                  keep AS cap_keep
           FROM ({{align}})) a USING (doc_id)
"""

_SQL_CAPTION_STATUS = (
    "CASE WHEN a.cap_keep IS NULL THEN 'none' "
    "WHEN a.cap_keep THEN 'aligned' ELSE 'misaligned' END"
)

# LAION-style curation verdict: star labels (recursive-CTE oracle) + the
# metadata gates over the expected-dims VALUES table
@functools.lru_cache(maxsize=None)
def _sql_image_curate() -> str:
    return f"""
WITH dims(image_id, w, h) AS (
  VALUES {_values(_expected_dims())}
),
{_sql_variant_ids(N_IMAGES)},
imgs AS (SELECT d.image_id, d.w, d.h FROM ids JOIN dims d USING (image_id)),
labels AS {sql_components(_sql_image_pairs(), "img_a", "img_b")},
v AS (
  SELECT i.image_id, i.w, i.h,
         CASE WHEN l.label IS NOT NULL AND l.label != i.image_id THEN 'near_duplicate'
              WHEN least(i.w, i.h) < {IMG_MIN_SIDE} THEN 'too_small'
              WHEN greatest(i.w, i.h) > {IMG_MAX_ASPECT} * least(i.w, i.h) THEN 'bad_aspect'
              ELSE 'kept' END AS drop_reason
  FROM imgs i LEFT JOIN labels l ON l.doc = i.image_id
)
SELECT image_id, w, h, drop_reason, (drop_reason = 'kept') AS keep FROM v
"""


# resize-transform oracle: pure metadata join against the independently
# computed (pure-Python, zlib-crc) thumbnail ground truth
SQL_IMAGE_THUMBNAIL = """
WITH expected(image_id, w, h, tw, th, thumb_len, thumb_crc) AS (
  VALUES {values}
),
{img_sel}
SELECT e.image_id, e.w, e.h, e.tw, e.th, e.thumb_len,
       CAST(e.thumb_crc AS BIGINT) AS thumb_crc
FROM sel JOIN expected e USING (image_id)
"""

@functools.lru_cache(maxsize=None)
def _sql_caption_align() -> str:
    from .similarity import _SQL_NORMED, _sql_cos

    return f"""
WITH {_SQL_NORMED},
{_sql_sel(N_IMAGES)},
cap AS (
  SELECT image_id, doc_id,
         CASE WHEN doc_id % {N_MISCAP} = 0
              THEN (doc_id + {MISCAP_SHIFT}) % {N_IMAGES}
              ELSE doc_id END AS ref_id
  FROM sel
),
sims AS (
  SELECT c.image_id, {_sql_cos('v', 't')} AS align_sim
  FROM cap c
  JOIN normed v ON v.vec_id = c.doc_id
  JOIN normed t ON t.vec_id = c.ref_id
)
SELECT image_id, align_sim, (align_sim >= {ALIGN_T}) AS keep FROM sims
"""


# image_dedup_clusters lives in the local tier: its capability is already
# driver-evidenced twice over — the verdict pattern by dedup_clusters (text)
# and the image pair source by image_phash_neardup — and demoting it buys the
# 8 KiB driver CORRECTNESS file ~330 B of margin against truncation.
# --- image_shard_pack --------------------------------------------------------
# WebDataset-style shard packing: assign (image, caption) rows — in image-id
# order — to fixed BYTE-budget training shards by global byte cumsum, the
# image twin of graph.doc_pack's token packing (LAION-scale pipelines write
# exactly this layout: contiguous samples until the shard budget fills, next
# shard). Reuses graph._pack_bins, so the global cumsum is the same
# TWO-PHASE range-partition plan — no single-partition WindowExec at any
# scale — and the payload bytes never enter the plan (sizes only: one
# length() projection per row, no decode).
SHARD_BYTES = 1 << 16  # 64 KiB test-scale budget (real shards: 100 MB-1 GB)


def image_shard_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .graph import _pack_bins

    imgs = _images(spark, sf_dir)
    doc = F.regexp_extract("image_id", r"^img-(\d+)", 1).cast("bigint")
    # checkpoint the TINY (doc_id, n_bytes) projection before the cumsum:
    # repartitionByRange's sampling pass and every downstream reuse would
    # otherwise re-run the payload generator (at real scale: re-scan the
    # payload column for a 16-byte metadata row)
    sized = imgs.select(
        doc.alias("doc_id"),
        (F.length("bytes") + F.octet_length("caption")).cast("long").alias("n_tokens"),
    ).localCheckpoint(eager=True)
    bins = _pack_bins(sized, cap=SHARD_BYTES)
    return bins.select(
        F.concat(F.lit("img-"), F.col("doc_id").cast("string")).alias("image_id"),
        F.col("n_tokens").alias("n_bytes"),
        F.col("cum_tokens").alias("cum_bytes"),
        F.col("bin_id").alias("shard_id"),
    )


@functools.lru_cache(maxsize=None)
def _expected_sizes() -> list[tuple]:
    """Driver-side (doc_id, image_id, n_bytes) ground truth: payload bytes +
    utf-8 caption bytes, same codec path pure-Python in-process."""
    return [
        (i, r["image_id"], len(r["bytes"]) + len(r["caption"].encode()))
        for i in range(N_IMAGES) for r in _image_rows(i)
    ]


SQL_IMAGE_SHARD_PACK = """
WITH expected(doc_id, image_id, n_bytes) AS (
  VALUES {values}
),
{img_sel},
sized AS (SELECT e.doc_id, e.image_id, e.n_bytes FROM expected e JOIN sel USING (doc_id)),
cum AS (
  SELECT image_id, doc_id, n_bytes,
         SUM(n_bytes) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum_bytes
  FROM sized
)
SELECT image_id, CAST(n_bytes AS BIGINT) AS n_bytes,
       CAST(cum_bytes AS BIGINT) AS cum_bytes,
       CAST((cum_bytes - n_bytes) // {shard_bytes} AS BIGINT) AS shard_id
FROM cum ORDER BY doc_id
"""


# --- image_exact_dedup -------------------------------------------------------
# LAION-scale pipelines dedup byte-identical payloads (re-crawls, mirrors,
# CDN copies) BEFORE any perceptual pass: hash the raw bytes, keep one row
# per digest. Planted ground truth: every COPY_EVERY-th base image ships a
# byte-identical re-crawl copy (``img-{id}-c`` — same bytes, new id).
COPY_EVERY = 5


def _copy_rows(doc_id: int) -> list[dict]:
    rows = _image_rows(doc_id)
    if doc_id % COPY_EVERY == 0:
        rows.append({**rows[0], "image_id": rows[0]["image_id"] + "-c"})
    return rows


def _images_with_copies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Images table plus planted byte-identical copies (``img-{id}-c``)."""
    return _payloads(spark, sf_dir, N_IMAGES, _copy_rows, IMAGES_SCHEMA)


def image_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact payload dedup over the raw binary column: md5 of the bytes
    (computed JVM-side over the Arrow-crossed binaries), one groupBy on the
    digest — map-side partial agg, a single shuffle keyed by the digest at
    any corpus size (the LAION step-1 shape; digests are uniform so the
    shuffle cannot skew). Keeper = lexicographic-min image_id. Parity pins
    the digests exactly: the oracle's md5s are pure-Python hashlib over an
    independent single-process codec run, so a match proves the payload
    bytes crossed Arrow into the JVM bit-for-bit."""
    imgs = _images_with_copies(spark, sf_dir)
    return (
        imgs.select("image_id", F.md5("bytes").alias("digest"))
        .groupBy("digest")
        .agg(F.count("*").alias("n_copies"), F.min("image_id").alias("keeper"))
    )


@functools.lru_cache(maxsize=None)
def _expected_digests() -> list[tuple]:
    """Driver-side (doc_id, image_id, md5-hex) ground truth for base images
    and their planted byte-identical copies."""
    return [
        (i, r["image_id"], hashlib.md5(r["bytes"]).hexdigest())
        for i in range(N_IMAGES) for r in _copy_rows(i)
    ]


SQL_IMAGE_EXACT_DEDUP = """
WITH expected(doc_id, image_id, digest) AS (
  VALUES {values}
),
{img_sel},
rows_ AS (SELECT e.image_id, e.digest FROM expected e JOIN sel USING (doc_id))
SELECT digest, COUNT(*) AS n_copies, MIN(image_id) AS keeper
FROM rows_ GROUP BY digest
"""


# --- image_res_bucket --------------------------------------------------------
# SDXL/NovelAI-style aspect-ratio bucketing: diffusion training forms batches
# from images of ONE resolution, so the corpus is binned to a fixed ladder of
# (w, h) buckets of roughly equal pixel area and the nearest aspect ratio —
# avoiding destructive center-crops. Stand-in scale: area ≈ BUCKET_AREA and
# BUCKET_STEP-aligned sides (SDXL uses 1024² and multiples of 64).
BUCKET_AREA = 2048
BUCKET_STEP = 8
BUCKET_MAX_ASPECT = 4


@functools.lru_cache(maxsize=None)
def _bucket_ladder() -> list[tuple[int, int, int]]:
    """Deterministic (bucket_id, bw, bh) ladder: widths stepping by
    BUCKET_STEP, height snapped so bw*bh ≈ BUCKET_AREA, aspect clamped to
    [1/BUCKET_MAX_ASPECT, BUCKET_MAX_ASPECT]. Pure Python — the ladder is
    inlined as literals in BOTH engines, so its rounding never crosses."""
    out, idx, seen = [], 0, set()
    for bw in range(BUCKET_STEP * 2, 129, BUCKET_STEP):
        bh = max(BUCKET_STEP, round(BUCKET_AREA / bw / BUCKET_STEP) * BUCKET_STEP)
        if bw * BUCKET_MAX_ASPECT < bh or bh * BUCKET_MAX_ASPECT < bw or (bw, bh) in seen:
            continue
        seen.add((bw, bh))
        out.append((idx, bw, bh))
        idx += 1
    return out


def image_res_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assign every image to the ladder bucket with the nearest aspect
    ratio. Metadata only (w, h columns — no decode), and the argmin runs
    inside ONE projection: the ladder is a literal array of structs and
    `array_min` picks the (distance, bucket_id)-lexicographic minimum — a
    map-only plan with zero joins and zero shuffles at any corpus size.
    Distance = |w*bh - h*bw| / (bw*bh): one exact integer difference (fits
    a double exactly at these magnitudes) and one IEEE division of exact
    integers, bit-identical in the JVM and DuckDB; ties break on the lower
    bucket_id in both engines."""
    ladder = _bucket_ladder()
    best = F.array_min(
        F.array(
            *[
                F.struct(
                    (
                        F.abs(F.col("w") * F.lit(bh) - F.col("h") * F.lit(bw)) / F.lit(bw * bh)
                    ).alias("d"),
                    F.lit(i).alias("bucket_id"),
                    F.lit(bw).alias("bucket_w"),
                    F.lit(bh).alias("bucket_h"),
                )
                for i, bw, bh in ladder
            ]
        )
    )
    return (
        _images(spark, sf_dir)
        .select("image_id", "w", "h", best.alias("b"))
        .select("image_id", "w", "h", "b.bucket_id", "b.bucket_w", "b.bucket_h")
    )


SQL_IMAGE_RES_BUCKET = """
WITH dims(image_id, w, h) AS (
  VALUES {dims}
),
{img_sel},
meta AS (SELECT d.image_id, d.w, d.h FROM sel JOIN dims d USING (image_id)),
ladder(bucket_id, bw, bh) AS (
  VALUES {ladder}
),
scored AS (
  SELECT m.image_id, m.w, m.h, l.bucket_id, l.bw, l.bh,
         abs(m.w * l.bh - m.h * l.bw) / CAST(l.bw * l.bh AS DOUBLE) AS d
  FROM meta m CROSS JOIN ladder l
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY image_id ORDER BY d, bucket_id) AS rn
  FROM scored
)
SELECT image_id, w, h, bucket_id, bw AS bucket_w, bh AS bucket_h
FROM ranked WHERE rn = 1
"""


# --- image_shard_bytes -------------------------------------------------------
# Materialized WebDataset-style shards: image_shard_pack ASSIGNS rows to
# byte-budget shards; this stage actually CONCATENATES each shard's records
# into one container blob (magic, record count, length-prefixed
# (image_id, payload, caption) records in image order) — the layout training
# loaders stream sequentially. read_shards() is the inverse source format.
SHARD_MAGIC = b"WCSH"


def shard_blob(recs: list) -> bytes:
    """Shard container bytes for [(image_id, payload, caption), ...] in
    order. Pure function — the oracle recomputes it driver-side."""
    out = [SHARD_MAGIC, struct.pack("<I", len(recs))]
    for iid, data, caption in recs:
        ib, cb = iid.encode(), caption.encode()
        out.append(struct.pack("<III", len(ib), len(data), len(cb)))
        out += [ib, bytes(data), cb]
    return b"".join(out)


def read_shard(blob: bytes) -> list:
    """Inverse of shard_blob; raises ValueError on a corrupt container."""
    if blob[:4] != SHARD_MAGIC:
        raise ValueError("bad shard magic")
    (n,) = struct.unpack_from("<I", blob, 4)
    off, recs = 8, []
    for _ in range(n):
        li, ld, lc = struct.unpack_from("<III", blob, off)
        off += 12
        iid = blob[off : off + li].decode()
        off += li
        data = blob[off : off + ld]
        off += ld
        recs.append((iid, data, blob[off : off + lc].decode()))
        off += lc
    if off != len(blob):
        raise ValueError("trailing bytes in shard")
    return recs


SHARD_BLOB_SCHEMA = T.StructType(
    [
        T.StructField("shard_id", T.LongType(), False),
        T.StructField("n_records", T.IntegerType(), False),
        T.StructField("blob", T.BinaryType(), False),
    ]
)

SHARD_READ_SCHEMA = T.StructType(
    [
        T.StructField("shard_id", T.LongType(), False),
        T.StructField("image_id", T.StringType(), False),
        T.StructField("bytes", T.BinaryType(), False),
        T.StructField("caption", T.StringType(), False),
    ]
)


def _shard_blobs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join payloads to the byte-budget assignment and concatenate each
    shard's records in image order — one applyInPandas group per shard, so
    the only wide op is the shuffle keyed by shard_id (shards are
    budget-bounded: a group is never bigger than SHARD_BYTES plus one
    record, so the Arrow batch per task stays bounded at any corpus size)."""
    imgs = _images(spark, sf_dir).select(
        F.substring("image_id", 5, 20).cast("bigint").alias("doc_id"),
        "image_id",
        "bytes",
        "caption",
    )
    asg = image_shard_pack(spark, sf_dir).select("image_id", "shard_id")

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id")
        blob = shard_blob(list(zip(pdf["image_id"], pdf["bytes"], pdf["caption"])))
        return pd.DataFrame(
            [{"shard_id": int(pdf["shard_id"].iloc[0]), "n_records": len(pdf), "blob": blob}]
        )

    return imgs.join(asg, "image_id").groupBy("shard_id").applyInPandas(
        lambda _k, pdf: pack(pdf), SHARD_BLOB_SCHEMA
    )


def read_shards(blobs: DataFrame) -> DataFrame:
    """Source-format reader: explode shard containers back into (image,
    caption) rows — mapInPandas, so a real 100 MB-1 GB shard unpacks inside
    its own task with no driver involvement; corrupt shards raise."""

    def unpack(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for sid, blob in zip(pdf["shard_id"], pdf["blob"]):
                for iid, data, cap in read_shard(bytes(blob)):
                    rows.append((int(sid), iid, data, cap))
            yield pd.DataFrame(rows, columns=[f.name for f in SHARD_READ_SCHEMA.fields])

    return blobs.mapInPandas(unpack, SHARD_READ_SCHEMA)


def image_shard_bytes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered projection of the shard writer: drops the blob column and
    pins it EXACTLY via the JVM-side crc32 (the oracle's crc is pure-Python
    zlib over an independent single-process construction of the same
    shards), so parity proves record order, framing, and every payload byte
    inside every shard."""
    return _shard_blobs(spark, sf_dir).select(
        "shard_id",
        "n_records",
        F.length("blob").alias("shard_bytes"),
        F.crc32("blob").alias("shard_crc"),
    )


@functools.lru_cache(maxsize=None)
def _expected_shards() -> tuple[list[tuple], list[tuple]]:
    """Driver-side recompute of the full shard layout: per-image (doc_id,
    shard_id) assignment and per-shard (shard_id, shard_bytes, crc) over the
    same codec payloads, pure-Python in-process."""
    cum, by_shard, asg = 0, {}, []
    for i in range(N_IMAGES):
        (r,) = _image_rows(i)
        sid = cum // SHARD_BYTES
        cum += len(r["bytes"]) + len(r["caption"].encode())
        by_shard.setdefault(sid, []).append((r["image_id"], r["bytes"], r["caption"]))
        asg.append((i, sid))
    stats = []
    for sid in sorted(by_shard):
        blob = shard_blob(by_shard[sid])
        stats.append((sid, len(blob), zlib.crc32(blob)))
    return asg, stats


SQL_IMAGE_SHARD_BYTES = """
WITH asg(doc_id, shard_id) AS (
  VALUES {asg}
),
{img_sel},
cnt AS (
  SELECT shard_id, COUNT(*) AS n_records
  FROM asg JOIN sel USING (doc_id) GROUP BY shard_id
),
expected(shard_id, shard_bytes, shard_crc) AS (
  VALUES {stats}
)
SELECT CAST(c.shard_id AS BIGINT) AS shard_id,
       CAST(c.n_records AS INT) AS n_records,
       CAST(e.shard_bytes AS INT) AS shard_bytes,
       CAST(e.shard_crc AS BIGINT) AS shard_crc
FROM cnt c JOIN expected e USING (shard_id)
"""


# --- vlm_pack ----------------------------------------------------------------
# VLM training-sequence packing: a vision-language example costs
# vision_tokens (the ViT patch grid, ceil(w/P)*ceil(h/P)) plus its caption's
# text tokens, and examples are packed greedily into fixed context windows by
# global token cumsum — the multimodal analogue of doc_pack. Metadata-only:
# w/h are table columns, so NO decode enters the plan. Stand-in scale:
# patch 8 (real ViTs: 14/16), window 512 (real: 8k-128k).
VLM_PATCH = 8
VLM_CTX = 512


def vlm_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pack (image, caption) examples into VLM context windows. Token cost
    is exact integer arithmetic in both engines: `(w + P-1) DIV P` per axis
    for the patch grid, whitespace-split size for the caption. The cumsum is
    graph._pack_bins — the two-phase range-partition plan (per-partition
    window + O(P) driver offsets), so there is no single-partition WindowExec
    at any corpus size and the only wide op is the range repartition."""
    from .graph import _pack_bins

    imgs = _images(spark, sf_dir)
    doc = F.regexp_extract("image_id", r"^img-(\d+)", 1).cast("bigint")
    p = VLM_PATCH
    # tiny metadata projection checkpointed before the cumsum — the range
    # sampling pass must not re-run the payload generator (see
    # image_shard_pack)
    sized = imgs.select(
        doc.alias("doc_id"),
        (
            F.expr(f"((w + {p - 1}) DIV {p}) * ((h + {p - 1}) DIV {p})")
            + F.size(F.split("caption", " "))
        )
        .cast("long")
        .alias("n_tokens"),
    ).localCheckpoint(eager=True)
    bins = _pack_bins(sized, cap=VLM_CTX)
    return bins.select(
        F.concat(F.lit("img-"), F.col("doc_id").cast("string")).alias("image_id"),
        "n_tokens",
        "cum_tokens",
        F.col("bin_id").alias("window_id"),
    )


SQL_VLM_PACK = """
WITH dims(image_id, w, h) AS (
  VALUES {dims}
),
{img_sel},
toks AS (
  SELECT s.doc_id, s.image_id,
         ((d.w + {pm1}) // {p}) * ((d.h + {pm1}) // {p})
           + len(string_split('caption for ' || s.image_id, ' ')) AS n_tokens
  FROM sel s JOIN dims d USING (image_id)
),
cum AS (
  SELECT image_id, doc_id, n_tokens,
         SUM(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum_tokens
  FROM toks
)
SELECT image_id, CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(cum_tokens AS BIGINT) AS cum_tokens,
       CAST((cum_tokens - n_tokens) // {ctx} AS BIGINT) AS window_id
FROM cum ORDER BY doc_id
"""


# --- image_bucket_sample -----------------------------------------------------
# Balanced resampling across the aspect-ratio buckets: curation pipelines cap
# each bucket at a per-bucket budget so one dominant aspect (web screenshots,
# phone photos) can't swamp the training mix — the image analogue of domain
# resampling. Deterministic md5-threshold sampling (no RNG state): keep a row
# iff its 48-bit md5 prefix is <= the bucket's integer threshold
# min(2^48-1, target*2^48 DIV n_bucket), so the kept set is a pure function
# of (image_id, bucket counts) and identical on any partition layout.
SAMPLE_PER_BUCKET = 24


def image_bucket_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-bucket threshold sampling. Plan shape: map-only ladder argmin →
    per-bucket count (map-side partial agg collapses every task to at most
    |ladder| rows before ONE tiny exchange) → broadcast of the ladder-sized
    count table (a TRUE constant-cardinality side — |ladder| rows at any
    corpus size, so the hint is safe per the broadcast policy) → map-only
    hex-threshold filter. No window, no big shuffle, no decode. The
    threshold compare is on fixed-width lowercase hex strings, bit-identical
    cross-engine; at 100 TB the same integer DIV threshold stays exact (the
    2^48 numerator fits a long for any target < 2^15)."""
    # the (image_id, bucket_id) assignment is consumed twice (count side +
    # probe side); checkpoint the tiny projection so the generator runs once
    b = image_res_bucket(spark, sf_dir).select("image_id", "bucket_id").localCheckpoint(eager=True)
    cnt = b.groupBy("bucket_id").agg(F.count("*").alias("n_bucket"))
    thr = F.least(
        F.lit((1 << 48) - 1),
        F.expr(f"CAST({SAMPLE_PER_BUCKET} * 281474976710656 AS BIGINT) DIV n_bucket"),
    )
    cnt = cnt.select("bucket_id", "n_bucket", F.lower(F.lpad(F.hex(thr), 12, "0")).alias("thr_hex"))
    return (
        b.join(F.broadcast(cnt), "bucket_id")
        .filter(F.substring(F.md5("image_id"), 1, 12) <= F.col("thr_hex"))
        .select("image_id", "bucket_id", "n_bucket")
    )


SQL_IMAGE_BUCKET_SAMPLE = """
WITH dims(image_id, w, h) AS (
  VALUES {dims}
),
{img_sel},
meta AS (SELECT d.image_id, d.w, d.h FROM sel JOIN dims d USING (image_id)),
ladder(bucket_id, bw, bh) AS (
  VALUES {ladder}
),
scored AS (
  SELECT m.image_id, l.bucket_id,
         abs(m.w * l.bh - m.h * l.bw) / CAST(l.bw * l.bh AS DOUBLE) AS d
  FROM meta m CROSS JOIN ladder l
),
asg AS (
  SELECT image_id, bucket_id FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY image_id ORDER BY d, bucket_id) AS rn
    FROM scored
  ) WHERE rn = 1
),
cnt AS (
  SELECT bucket_id, COUNT(*) AS n_bucket,
         lower(lpad(printf('%x', least(281474976710655,
               ({target} * 281474976710656) // COUNT(*))), 12, '0')) AS thr_hex
  FROM asg GROUP BY bucket_id
)
SELECT a.image_id, a.bucket_id, CAST(c.n_bucket AS BIGINT) AS n_bucket
FROM asg a JOIN cnt c USING (bucket_id)
WHERE substr(md5(a.image_id), 1, 12) <= c.thr_hex
"""


# --- image_classify_aesthetic ------------------------------------------------
# Model-based image curation gate: LAION filters images with a small linear
# head over learned features (the "aesthetic predictor"). Stand-in with the
# same plan shape and cost profile: a fixed-weight linear logit over the
# decoded-feature projection (sharpness reward iv = floor(16*thumb_var),
# mid-brightness deviation penalty |floor(16*brightness) - 16*128|) with an
# integer threshold, so the verdict is exact in both engines. Real model =
# same mapInPandas decode stage emitting an embedding + the same map-only
# integer head; swapping weights does not change the plan.
AESTH_THRESH = 1500  # splits the synth corpus ~60/40 keep/drop


def image_classify_aesthetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-image keep/drop verdict from a linear scorer over decoded
    features. ONE generator pass, ONE decode mapInPandas (the shared
    decode_validate stage — images are never decoded twice), then a map-only
    integer projection: no join, no shuffle after the decode stage at any
    corpus size. The oracle receives the per-image feature doubles as exact
    VALUES literals and applies the identical floor-quantized head, so
    parity additionally proves the decoded features crossed Arrow
    bit-for-bit per image (the rollup queries only pin min/max)."""
    imgs = _images(spark, sf_dir).withColumn("crawled_caption", F.col("caption"))
    checked = imgs.mapInPandas(udfs.decode_validate, udfs.VALIDATION_SCHEMA)
    ib = F.floor(F.col("brightness") * 16).cast("long")
    iv = F.floor(F.col("thumb_var") * 16).cast("long")
    return checked.select(
        "image_id", (iv - F.abs(ib - F.lit(128 * 16))).alias("logit")
    ).select("image_id", "logit", (F.col("logit") >= AESTH_THRESH).alias("keep"))


SQL_IMAGE_CLASSIFY_AESTHETIC = """
WITH {expected},
scored AS (
  SELECT e.image_id,
         CAST(floor(CAST(e.thumb_var AS DOUBLE) * 16) AS BIGINT)
           - abs(CAST(floor(CAST(e.brightness AS DOUBLE) * 16) AS BIGINT) - 2048) AS logit
  FROM sel JOIN expected e USING (image_id)
)
SELECT image_id, logit, logit >= {thresh} AS keep FROM scored
"""


# --- image_ocr_extract --------------------------------------------------------
# Image→text extraction: the alt-text-recovery stage of a crawl pipeline (OCR
# over scanned pages / rendered text), feeding extracted strings into the text
# tier. Real OCR is not in this container — imagecodec.plant_text/ocr_extract
# is the clearly-marked stand-in with exact planted ground truth; the Spark
# plan (binary decode mapInPandas → JVM string/token expressions, map-only, no
# shuffle at any corpus size) is what swapping in a real model would keep.
N_SCANS = 150
SCAN_TEXTLESS_EVERY = 7  # every 7th scan has NO text band (the miss path)

OCR_RAW_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType(), False),
        T.StructField("caption", T.StringType(), True),
        T.StructField("extracted", T.StringType(), True),
    ]
)


def _scan_text(doc_id: int) -> str | None:
    if doc_id % SCAN_TEXTLESS_EVERY == 0:
        return None
    return f"alt text for scan-{doc_id}"


def _scan_rows(doc_id: int) -> list[dict]:
    row = imagecodec.scan_row(f"scan-{doc_id}", _scan_text(doc_id), seed=42)
    row["caption"] = f"alt text for scan-{doc_id}"
    return [row]


def _scans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 'scanned page' images: base pixels + planted text band
    (imagecodec.scan_row); caption column carries the EXPECTED alt text for
    every row, so the extraction verdict is a plain column comparison."""
    return _payloads(spark, sf_dir, N_SCANS, _scan_rows, IMAGES_SCHEMA)


def image_ocr_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-scan extraction verdict: extracted text, char/token counts, and
    whether it matches the crawled caption. ONE decode pass (map-only
    mapInPandas over the binary column, no shuffle at any scale); the
    token/match columns are JVM-side expressions so the text-tier handoff
    stays in whole-stage codegen. Undecodable inputs yield null→'' (flagged,
    not fatal — production semantics)."""

    def ocr(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for iid, data, cap in zip(pdf["image_id"], pdf["bytes"], pdf["caption"]):
                try:
                    px, _, _, _ = imagecodec.decode(bytes(data))
                    txt = imagecodec.ocr_extract(px)
                except ValueError:
                    txt = None
                rows.append((iid, cap, txt))
            yield pd.DataFrame(rows, columns=[f.name for f in OCR_RAW_SCHEMA.fields])

    out = _scans(spark, sf_dir).mapInPandas(ocr, OCR_RAW_SCHEMA)
    extracted = F.coalesce(F.col("extracted"), F.lit(""))
    has_text = extracted != F.lit("")
    return out.select(
        "image_id",
        extracted.alias("extracted"),
        has_text.alias("has_text"),
        F.length(extracted).alias("n_chars"),
        F.when(has_text, F.size(F.split(extracted, " ")))
        .otherwise(F.lit(0))
        .alias("n_tokens"),
        (extracted == F.col("caption")).alias("matches_caption"),
    )


@functools.lru_cache(maxsize=None)
def _expected_scans() -> list[tuple]:
    """Driver-side (image_id, extracted) ground truth: the same codec path
    run pure-Python in-process — parity proves the planted band survived
    encode → Arrow → decode → extract byte-for-byte."""
    return [
        (r["image_id"], imagecodec.ocr_extract(imagecodec.decode(r["bytes"])[0]))
        for i in range(N_SCANS) for r in _scan_rows(i)
    ]


SQL_IMAGE_OCR_EXTRACT = """
WITH expected(image_id, extracted) AS (
  VALUES {values}
),
{sel}
SELECT e.image_id,
       e.extracted,
       e.extracted <> '' AS has_text,
       CAST(length(e.extracted) AS INT) AS n_chars,
       CAST(CASE WHEN e.extracted = '' THEN 0
                 ELSE length(e.extracted)
                      - length(replace(e.extracted, ' ', '')) + 1 END AS INT)
         AS n_tokens,
       e.extracted = ('alt text for ' || e.image_id) AS matches_caption
FROM sel JOIN expected e USING (image_id)
"""


# --- image_pii_redact ---------------------------------------------------------
# Image-side privacy leg (twin of text_pii_redact): detect planted PII regions
# (imagecodec.detect_pii — a real face detector would replace only that numpy
# function), black-box them, re-encode, and pin the emitted binary exactly via
# JVM crc32 (the image_thumbnail contract). Map-only: no shuffle at any scale.
N_PHOTOS = 150

PII_RAW_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType(), False),
        T.StructField("n_regions", T.IntegerType(), True),
        T.StructField("area_px", T.IntegerType(), True),
        T.StructField("redacted", T.BinaryType(), True),
    ]
)


def _pii_planted(doc_id: int) -> int:
    """Planted PII squares per photo: 2 / 1 / 0 on a 9 / 3 / rest split."""
    if doc_id % 9 == 0:
        return 2
    return 1 if doc_id % 3 == 0 else 0


def _photo_rows(doc_id: int) -> list[dict]:
    row = imagecodec.photo_row(f"pho-{doc_id}", _pii_planted(doc_id), seed=42)
    row["caption"] = f"photo {doc_id}"
    return [row]


def _photos(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 'photo' images with planted PII regions."""
    return _payloads(spark, sf_dir, N_PHOTOS, _photo_rows, IMAGES_SCHEMA)


def image_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-photo redaction verdict: regions found, pixels masked, and the
    exact redacted binary pinned via length + crc32. One decode pass, one
    binary-emitting mapInPandas, JVM-side crc — identical plan shape to
    image_thumbnail, so the audit asserts map-only with no join/window."""

    def red(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for iid, data in zip(pdf["image_id"], pdf["bytes"]):
                try:
                    px, _, _, _ = imagecodec.decode(bytes(data))
                except ValueError:
                    rows.append((iid, None, None, None))
                    continue
                mask, n = imagecodec.detect_pii(px)
                rows.append(
                    (iid, n, int(mask.sum()), imagecodec.encode(imagecodec.redact(px, mask), "png"))
                )
            yield pd.DataFrame(rows, columns=[f.name for f in PII_RAW_SCHEMA.fields])

    return (
        _photos(spark, sf_dir)
        .mapInPandas(red, PII_RAW_SCHEMA)
        .select(
            "image_id",
            "n_regions",
            "area_px",
            F.length("redacted").alias("red_len"),
            F.crc32("redacted").alias("red_crc"),
        )
    )


@functools.lru_cache(maxsize=None)
def _expected_redactions() -> list[tuple]:
    """Driver-side redaction ground truth — same codec path pure-Python,
    crc via zlib (same polynomial as the JVM's java.util.zip.CRC32)."""
    out = []
    for i in range(N_PHOTOS):
        (r,) = _photo_rows(i)
        px, _, _, _ = imagecodec.decode(r["bytes"])
        mask, n = imagecodec.detect_pii(px)
        rb = imagecodec.encode(imagecodec.redact(px, mask), "png")
        out.append((r["image_id"], n, int(mask.sum()), len(rb), zlib.crc32(rb)))
    return out


SQL_IMAGE_PII_REDACT = """
WITH expected(image_id, n_regions, area_px, red_len, red_crc) AS (
  VALUES {values}
),
{sel}
SELECT e.image_id, CAST(e.n_regions AS INT) AS n_regions,
       CAST(e.area_px AS INT) AS area_px,
       CAST(e.red_len AS INT) AS red_len, e.red_crc
FROM sel JOIN expected e USING (image_id)
"""


LOCAL_QUERIES = {
    "corpus_multimodal_pipeline": corpus_multimodal_pipeline,
    "image_dedup_clusters": image_dedup_clusters,
    "image_curate": image_curate,
    "audio_curate": audio_curate,
    "video_curate": video_curate,
    "audio_fingerprint_neardup": audio_fingerprint_neardup,
    "video_phash_neardup": video_phash_neardup,
    "image_thumbnail": image_thumbnail,
    "image_caption_align": image_caption_align,
    "image_shard_pack": image_shard_pack,
    "image_exact_dedup": image_exact_dedup,
    "image_res_bucket": image_res_bucket,
    "image_shard_bytes": image_shard_bytes,
    "vlm_pack": vlm_pack,
    "image_bucket_sample": image_bucket_sample,
    "image_classify_aesthetic": image_classify_aesthetic,
    "image_ocr_extract": image_ocr_extract,
    "image_pii_redact": image_pii_redact,
    "caption_hard_negatives": caption_hard_negatives,
}
@functools.lru_cache(maxsize=None)
def _local_oracle_map() -> dict:
    return {
    "caption_hard_negatives": _sql_caption_hard_negatives(),
    "audio_fingerprint_neardup": _sql_hamming_pairs(
        _expected_afps(), "aud", N_AUDIO, "aud_a", "aud_b", AFP_HAMMING_T
    ),
    "video_phash_neardup": _sql_hamming_pairs(
        _expected_vhashes(), "vid", N_VIDEO, "vid_a", "vid_b", VID_HAMMING_T
    ),
    "corpus_multimodal_pipeline": _sql_corpus_multimodal_pipeline().format(
        caption_status=_SQL_CAPTION_STATUS,
        align=_sql_caption_align().replace("\n", " "),
    ),
    "image_dedup_clusters": _sql_image_dedup_clusters(),
    "image_curate": _sql_image_curate(),
    "audio_curate": _sql_audio_curate(),
    "video_curate": _sql_video_curate(),
    "image_thumbnail": SQL_IMAGE_THUMBNAIL.format(
        values=_values(_expected_thumbs()), img_sel=_sql_sel(N_IMAGES)
    ),
    "image_caption_align": _sql_caption_align(),
    "image_shard_pack": SQL_IMAGE_SHARD_PACK.format(
        values=_values(_expected_sizes()),
        img_sel=_sql_sel(N_IMAGES),
        shard_bytes=SHARD_BYTES,
    ),
    "image_exact_dedup": SQL_IMAGE_EXACT_DEDUP.format(
        values=_values(_expected_digests()), img_sel=_sql_sel(N_IMAGES)
    ),
    "image_res_bucket": SQL_IMAGE_RES_BUCKET.format(
        dims=_values(_expected_dims()),
        img_sel=_sql_sel(N_IMAGES),
        ladder=_values(_bucket_ladder()),
    ),
    "image_shard_bytes": SQL_IMAGE_SHARD_BYTES.format(
        asg=_values(_expected_shards()[0]),
        stats=_values(_expected_shards()[1]),
        img_sel=_sql_sel(N_IMAGES),
    ),
    "vlm_pack": SQL_VLM_PACK.format(
        dims=_values(_expected_dims()),
        img_sel=_sql_sel(N_IMAGES),
        p=VLM_PATCH,
        pm1=VLM_PATCH - 1,
        ctx=VLM_CTX,
    ),
    "image_bucket_sample": SQL_IMAGE_BUCKET_SAMPLE.format(
        dims=_values(_expected_dims()),
        img_sel=_sql_sel(N_IMAGES),
        ladder=_values(_bucket_ladder()),
        target=SAMPLE_PER_BUCKET,
    ),
    "image_classify_aesthetic": SQL_IMAGE_CLASSIFY_AESTHETIC.format(
        expected=_sql_image_expected(), thresh=AESTH_THRESH
    ),
    "image_ocr_extract": SQL_IMAGE_OCR_EXTRACT.format(
        values=_values(_expected_scans()), sel=_sql_sel(N_SCANS, "scan")
    ),
    "image_pii_redact": SQL_IMAGE_PII_REDACT.format(
        values=_values(_expected_redactions()), sel=_sql_sel(N_PHOTOS, "pho")
    ),
    }


def __getattr__(name: str):
    # PEP 562: oracle maps build on first access (driver-side, once per
    # process), never at import — see the lazy-oracle note above
    # _sql_expected
    if name == "ORACLES":
        return _oracle_map()
    if name == "LOCAL_ORACLES":
        return _local_oracle_map()
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
