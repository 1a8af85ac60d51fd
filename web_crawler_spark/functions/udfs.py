"""Vectorized pandas/Arrow UDFs — the engine's only Python-side operators.

Everything the reference does per page with BeautifulSoup + urllib
(``Crawler/crawler.py:398-480``) runs here as Arrow-batched stages
(SURVEY.md §2.10): one fused robots-gate+fetch+parse ``mapInPandas`` (the
synthetic network + parser), one canonicalization UDF, and ``row_stage``,
the payload tier's one Arrow row stage (``decode_stage`` for decoders, e.g.
``decode_validate``). No row-at-a-time ``F.udf`` anywhere.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import types as T

from ..config import JobConfig
from ..core import htmlgen, htmlparse, imagecodec, webgen
from ..core.robots import RulesByHost, allowed
from ..core.urlnorm import canonicalize
from ..schemas import CONTENT_STRUCT, HEADINGS_TYPE, LINK_STRUCT, METADATA_STRUCT

FETCHED_SCHEMA = T.StructType(
    [
        T.StructField("seq", T.LongType(), False),
        T.StructField("url", T.StringType(), False),
        T.StructField("host", T.StringType(), False),
        T.StructField("host_bucket", T.IntegerType(), False),
        T.StructField("depth", T.IntegerType(), False),
        T.StructField("outcome", T.StringType(), False),
        T.StructField("status_code", T.IntegerType(), True),
        T.StructField("attempts", T.IntegerType(), False),
        T.StructField("fetch_latency_ms", T.DoubleType(), False),
        T.StructField("page_url", T.StringType(), True),  # unquote(url) for parsed rows
        T.StructField("title", T.StringType(), True),
        T.StructField("metadata", METADATA_STRUCT, True),
        T.StructField("headings", HEADINGS_TYPE, True),
        T.StructField("content", CONTENT_STRUCT, True),
        T.StructField("image_id", T.StringType(), True),
        T.StructField("caption", T.StringType(), True),
        T.StructField("links", T.ArrayType(LINK_STRUCT), True),
        T.StructField("partition_id", T.IntegerType(), False),  # write-time lineage
    ]
)


def fetch_latency_ms(url: str, attempts: int, seed: int) -> float:
    """Deterministic synthetic fetch latency (metrics/lineage only)."""
    from ..core.hashing import stable_hash64

    base = 20.0 + (stable_hash64(seed, "lat", url) % 150)
    return base * attempts


def make_fetch_parse(cfg: webgen.WebConfig, job: JobConfig, rules: RulesByHost):
    """mapInPandas stage: frontier batch → gated/fetched/parsed rows
    (FETCHED_SCHEMA).

    The 'network' is the deterministic synthetic web; in a real deployment this
    function body is the aiohttp fetch + HTML5 parse, same batch shape. Fetch
    semantics mirror the reference exactly (crawler.py:156-190): only 200
    yields content; 429/timeouts exhaust max_retries then fail with status 0.

    The robots gate runs here too, BEFORE the fetch (crawler.py:502-504,
    fail-open) — fusing it into this stage keeps each scheduling round at one
    Python stage instead of two. ``rules`` should arrive via ``sc.broadcast``
    at scale; a closure is fine for small rule sets.
    """
    domain = job.domain
    max_retries = job.max_retries
    user_agent = job.user_agent
    seed = cfg.seed

    def fetch_parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext

        tc = TaskContext.get()
        pid = tc.partitionId() if tc is not None else -1
        for pdf in batches:
            rows = []
            for url, seq, depth, host, host_bucket in zip(
                pdf["url"], pdf["seq"], pdf["depth"], pdf["host"], pdf["host_bucket"]
            ):
                if not allowed(url, user_agent, rules):
                    rows.append({
                        "seq": seq, "url": url, "host": host, "host_bucket": host_bucket,
                        "depth": depth, "outcome": "disallowed", "status_code": None,
                        "attempts": 0, "fetch_latency_ms": 0.0, "page_url": None,
                        "title": None, "metadata": None, "headings": None,
                        "content": None, "image_id": None, "caption": None,
                        "links": None, "partition_id": pid,
                    })
                    continue
                status = webgen.status_of(url, cfg)
                if status == 200:
                    html = htmlgen.render_html(webgen.page_spec(url, cfg))
                    attempts = 1
                elif status in (429, 0):
                    html, status, attempts = None, 0, max_retries
                else:
                    html, attempts = None, 1
                lat = fetch_latency_ms(url, attempts, seed)
                base = {
                    "seq": seq, "url": url, "host": host, "host_bucket": host_bucket,
                    "depth": depth, "status_code": status, "attempts": attempts,
                    "fetch_latency_ms": lat, "page_url": None, "title": None,
                    "metadata": None, "headings": None, "content": None,
                    "image_id": None, "caption": None, "links": None,
                    "partition_id": pid,
                }
                if html is None:
                    base["outcome"] = "failed"
                    rows.append(base)
                    continue
                page = htmlparse.parse_page(html, url, domain)
                image_id, caption = htmlparse.parse_payload(html)
                base.update(
                    outcome="parsed",
                    page_url=page.url,
                    title=page.title,
                    metadata=page.metadata,
                    headings=page.headings,
                    content=page.content,
                    image_id=image_id,
                    caption=caption,
                    links=[
                        {"to_url": l.to_url, "link_text": l.link_text, "link_idx": l.link_idx}
                        for l in page.links
                    ],
                )
                rows.append(base)
            yield pd.DataFrame(rows, columns=[f.name for f in FETCHED_SCHEMA])

    return fetch_parse


def make_canonicalize(domain: str):
    """pandas UDF body: (href, base_url) → clean in-domain URL or None.

    The standalone form of the parse stage's link canonicalization (F5,
    crawler.py:407-427) for use over raw link tables.
    """

    def canon(hrefs: pd.Series, bases: pd.Series) -> pd.Series:
        return pd.Series(
            [canonicalize(h, b, domain) for h, b in zip(hrefs, bases)], dtype=object
        )

    return canon


VALIDATION_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType(), False),
        T.StructField("fmt", T.StringType(), True),
        T.StructField("w", T.IntegerType(), True),
        T.StructField("h", T.IntegerType(), True),
        T.StructField("decode_ok", T.BooleanType(), False),
        T.StructField("psnr_db", T.DoubleType(), True),  # vs reference pixels; None = lossless exact
        T.StructField("pixels_ok", T.BooleanType(), False),  # allclose / PSNR>=40 per input_hint
        T.StructField("phash_computed", T.LongType(), True),
        T.StructField("phash_ok", T.BooleanType(), False),
        T.StructField("caption_ok", T.BooleanType(), False),
        # decoded-feature projection, same decode pass (never decode twice:
        # at corpus scale the decode stage dominates, so validation and
        # feature extraction share one pixel buffer)
        T.StructField("mean_r", T.DoubleType(), True),
        T.StructField("mean_g", T.DoubleType(), True),
        T.StructField("mean_b", T.DoubleType(), True),
        T.StructField("brightness", T.DoubleType(), True),
        T.StructField("thumb_var", T.DoubleType(), True),  # 8×8 block-mean resize variance
    ]
)


# a payload the codec cannot read: corrupt or truncated bytes (ValueError)
# or a format with no codec in this build (NotImplementedError)
UNDECODABLE = (ValueError, NotImplementedError)


def row_stage(rows_of, schema: T.StructType):
    """The payload tier's one Arrow row stage: a ``mapInPandas`` body that
    yields, per batch, the rows (dicts or *schema*-ordered tuples) that
    ``rows_of(row)`` returns for each input row (a namedtuple)."""
    cols = schema.fieldNames()

    def stage(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                [out for r in pdf.itertuples(index=False) for out in rows_of(r)], columns=cols
            )

    return stage


def decode_stage(fill, schema: T.StructType, key: str):
    """`row_stage` with one record per row, filled in place by ``fill(row,
    rec)`` from the null record (*key* copied, every non-null boolean False,
    the rest None). On `UNDECODABLE` the record stays as ``fill`` left it:
    flagged downstream, not fatal."""
    null = {f.name: False if f.dataType == T.BooleanType() and not f.nullable else None
            for f in schema.fields}

    def rows_of(r) -> tuple[dict]:
        rec = {**null, key: getattr(r, key)}
        try:
            fill(r, rec)
        except UNDECODABLE:
            pass
        return (rec,)

    return row_stage(rows_of, schema)


def _validate(r, rec: dict) -> None:
    """Image validation row: decode ONCE, check the input_hint invariant
    (pixels allclose / PSNR >= 40 dB if lossy, phash, caption) and project
    the decoded features from the same pixel buffer."""
    rec["caption_ok"] = bool(r.crawled_caption == r.caption)
    px, w, h, fmt = imagecodec.decode(bytes(r.bytes))
    rec.update(fmt=fmt, w=w, h=h, decode_ok=(w == r.w and h == r.h and fmt == r.fmt))
    ref = imagecodec.reference_pixels(r.image_id, w, h)
    if fmt in imagecodec.LOSSY_FMTS:
        p = imagecodec.psnr(px, ref)
        rec.update(psnr_db=None if np.isinf(p) else p, pixels_ok=bool(p >= 40.0))
    else:
        rec.update(pixels_ok=bool(np.array_equal(px, ref)))
    ph = imagecodec.phash64(px)
    rec.update(phash_computed=ph, phash_ok=bool(ph == r.phash))
    rec.update(imagecodec.features(px))


# mapInPandas over images-table rows joined with crawled captions; expects
# columns image_id, bytes, w, h, fmt, caption, phash, crawled_caption
decode_validate = decode_stage(_validate, VALIDATION_SCHEMA, "image_id")
