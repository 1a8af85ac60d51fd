"""Typed schemas for the stored engine tables and the payload tables
(FIXTURES.md §§1, 5). The derived projections (seen, crawl_log, links,
outcomes, metrics) get their schemas from ``engine.CrawlRun.read``.

The reference keeps pages as PostgreSQL rows with two JSONB documents whose
shape is fixed by convention (``Crawler/database.py:259-266``, SURVEY.md §1.2);
here those become real StructType columns so Catalyst can prune and push down
into them — JSON only ever appears at the export edge (``to_json``).
"""

from __future__ import annotations

from pyspark.sql import types as T

N_HOST_BUCKETS = 1024  # hash-partition width for frontier/seen at scale

METADATA_STRUCT = T.StructType(
    [
        T.StructField(f, T.StringType(), False)
        for f in (
            "description",
            "keywords",
            "og_title",
            "og_description",
            "og_image",
            "og_url",
            "viewport",
            "charset",
            "author",
            "robots",
        )
    ]
)

HEADINGS_TYPE = T.MapType(T.StringType(), T.ArrayType(T.StringType()), False)

CONTENT_STRUCT = T.StructType(
    [
        T.StructField("content_text", T.StringType(), False),
        T.StructField("word_count", T.IntegerType(), False),
        T.StructField("char_count", T.IntegerType(), False),
        T.StructField("links_count", T.IntegerType(), False),
        T.StructField("images_count", T.IntegerType(), False),
        T.StructField("forms_count", T.IntegerType(), False),
        T.StructField("paragraphs_count", T.IntegerType(), False),
    ]
)

LINK_STRUCT = T.StructType(
    [
        T.StructField("to_url", T.StringType(), False),
        T.StructField("link_text", T.StringType(), True),
        T.StructField("link_idx", T.IntegerType(), False),
    ]
)

# `documents` test table — the arriving-document shape every
# streaming text tier reads
DOCUMENTS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
        T.StructField("source", T.StringType(), True),
        T.StructField("n_chars", T.LongType(), True),
    ]
)

# images payload table — exact input_hint shape (BASELINE.json)
IMAGES_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType(), False),
        T.StructField("bytes", T.BinaryType(), False),
        T.StructField("w", T.IntegerType(), False),
        T.StructField("h", T.IntegerType(), False),
        T.StructField("fmt", T.StringType(), False),
        T.StructField("caption", T.StringType(), False),
        T.StructField("phash", T.LongType(), False),
    ]
)

AUDIO_SCHEMA = T.StructType(
    [
        T.StructField("audio_id", T.StringType(), False),
        T.StructField("bytes", T.BinaryType(), False),
        T.StructField("sr", T.IntegerType(), False),
        T.StructField("n_samples", T.IntegerType(), False),
        T.StructField("fmt", T.StringType(), False),
    ]
)

VIDEO_SCHEMA = T.StructType(
    [
        T.StructField("video_id", T.StringType(), False),
        T.StructField("bytes", T.BinaryType(), False),
        T.StructField("w", T.IntegerType(), False),
        T.StructField("h", T.IntegerType(), False),
        T.StructField("fps", T.IntegerType(), False),
        T.StructField("n_frames", T.IntegerType(), False),
        T.StructField("fmt", T.StringType(), False),
    ]
)

FRONTIER_SCHEMA = T.StructType(
    [
        T.StructField("job_id", T.IntegerType(), False),
        T.StructField("seq", T.LongType(), False),  # global FIFO admission rank
        T.StructField("url", T.StringType(), False),
        T.StructField("url_hash", T.LongType(), False),
        T.StructField("host", T.StringType(), False),
        T.StructField("host_bucket", T.IntegerType(), False),
        T.StructField("depth", T.IntegerType(), False),
        T.StructField("parent_seq", T.LongType(), False),
        T.StructField("link_idx", T.IntegerType(), False),
        # retries are intra-fetch (reference-faithful, crawler.py:147-190), so
        # admissions never re-enter the frontier — no attempt counter here
        T.StructField("round_added", T.IntegerType(), False),
    ]
)
