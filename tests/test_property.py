"""Hypothesis property tests over the pure-Python cores (no Spark session).

Each property pins a contract the Spark plans rely on:
- canonicalize() must equal the reference's urllib pipeline on ARBITRARY
  hrefs, not just the hand-picked TRICKY list (crawler.py:407-427 semantics);
- the WCSI codec round-trip and phash stability invariants that
  image_phash_neardup's metadata-only plan assumes;
- the byte-pair candidate rule's pigeonhole completeness for Hamming <=
  IMG_HAMMING_T (multimodal._PH_PAIRS) — the recall contract of the
  bucketed phash join;
- merge_shard_minima == global k-minima over the shard union (the KMV
  stream/batch equivalence reduces to exactly this merge identity).
"""

from hypothesis import given, settings
from hypothesis import strategies as st

import numpy as np

from test_core_pure import BASE, DOMAIN, reference_pipeline
from web_crawler_spark.analytics.multimodal import IMG_HAMMING_T, _PH_PAIRS
from web_crawler_spark.core import imagecodec
from web_crawler_spark.core.urlnorm import canonicalize
from web_crawler_spark.streaming.stream_kmv import KMV_K, merge_shard_minima

# URL-ish fragments that exercise scheme/netloc/percent/dot-segment handling;
# hypothesis composes them into hrefs no hand-written list would contain.
_URL_ATOMS = [
    "", "#", "/", "..", ".", "p", "5", "?", "&", "=", ":", "//",
    "%2F", "%252F", "%20", "%", "site0.test", "other.test", "docs.",
    "http:", "https:", "HTTP:", "mailto:", "javascript:", "@", "~", " ",
    # shapes that land in canonicalize's fast path (and its boundaries) —
    # the fast path must agree with the urllib pipeline on every composition
    "p/5", "/p/9", "?ref=1", "#sec", "http://site0.test",
    "http://docs.site0.test/p/2", "/p/5?utm=x1#top", "_", "-", "x.html",
]
hrefs = st.lists(st.sampled_from(_URL_ATOMS), min_size=0, max_size=12).map("".join)
_BASES = [
    "http://site0.test/p/3", "http://docs.site0.test/p/0", "http://site0.test",
    "http://site0.test/", "http://shop.site0.test/a/b/c",
    "HTTP://site0.test/p/1", "http://site0.test/a.b/c", "http://site0.test/p/3?q=1",
]


@given(hrefs, st.sampled_from(_BASES))
@settings(max_examples=500, deadline=None)
def test_canonicalize_matches_reference_on_fuzzed_hrefs(href, base):
    try:
        expected = reference_pipeline(href, base, DOMAIN)
    except ValueError:
        # urllib itself rejects the href (e.g. invalid IPv6 netloc) — the
        # engine's canonicalize must reject it too, not crash differently
        expected = None
        try:
            got = canonicalize(href, base, DOMAIN)
        except ValueError:
            got = None
        assert got is None or got == expected
        return
    assert canonicalize(href, base, DOMAIN) == expected


pixel_dims = st.tuples(st.integers(1, 24), st.integers(1, 24))


@given(pixel_dims, st.sampled_from(["png", "jpeg", "webp"]), st.integers(0, 2**32 - 1))
@settings(max_examples=60, deadline=None)
def test_wcsi_roundtrip_invariants(dims, fmt, seed):
    w, h = dims
    rng = np.random.default_rng(seed)
    px = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
    data = imagecodec.encode(px, fmt)
    out, ow, oh, ofmt = imagecodec.decode(data)
    assert (ow, oh, ofmt) == (w, h, fmt)
    if fmt == "png":
        assert np.array_equal(out, px)  # lossless
    else:
        # lossy quantization: bounded error, and decode is a fixpoint
        # (re-encoding the decode reproduces the same bytes/pixels)
        assert int(np.abs(out.astype(int) - px.astype(int)).max()) < 2 * imagecodec._Q
        assert np.array_equal(imagecodec.decode(imagecodec.encode(out, fmt))[0], out)
    # corrupting the magic must raise, never return garbage pixels
    try:
        imagecodec.decode(b"XXXX" + data[4:])
        raised = False
    except ValueError:
        raised = True
    assert raised


def _byte_pair_keys(h64: int) -> set:
    """Pure-Python twin of multimodal._pair_blocks' (k, blk) bucket keys."""
    bts = [(h64 >> (8 * i)) & 0xFF for i in range(8)]
    return {(k, bts[i] * 256 + bts[j]) for k, (i, j) in enumerate(_PH_PAIRS)}


@given(st.integers(0, 2**64 - 1), st.sets(st.integers(0, 63), max_size=IMG_HAMMING_T))
@settings(max_examples=500, deadline=None)
def test_phash_byte_pair_candidate_rule_complete(h64, flip_bits):
    # any pair within Hamming <= IMG_HAMMING_T must share >= 1 bucket key:
    # <= 6 flipped bits touch <= 6 of the 8 bytes, leaving a clean byte PAIR
    other = h64
    for b in flip_bits:
        other ^= 1 << b
    assert _byte_pair_keys(h64) & _byte_pair_keys(other)


@given(
    st.lists(
        st.lists(st.integers(1, (1 << 48) - 1), min_size=0, max_size=40),
        min_size=0,
        max_size=6,
    )
)
@settings(max_examples=300, deadline=None)
def test_kmv_merge_equals_global_k_minima(shards):
    # each shard pre-sorted unique ascending, as the stream state keeps it
    rows = [sorted(set(s))[:KMV_K] for s in shards]
    merged = merge_shard_minima(rows)
    union = sorted({m for s in rows for m in s})
    k_min = union[:KMV_K]
    assert merged["k_seen"] == len(k_min)
    if not k_min:
        assert merged["kth_min"] is None and merged["est_distinct"] == 0
    else:
        assert merged["kth_min"] == k_min[-1]
        assert merged["est_distinct"] == (KMV_K - 1) * (1 << 48) // k_min[-1]


# ---------------------------------------------------------------------------
# words() chunked derivation (round 3: 4 words per 32-byte digest)
# ---------------------------------------------------------------------------

@given(st.integers(min_value=0, max_value=64), st.integers(min_value=0, max_value=10**6))
@settings(max_examples=200, deadline=None)
def test_words_chunking_contract(n, key):
    """words(n) must emit exactly n safe lowercase words, be a pure function
    of its key, and agree with itself across chunk boundaries: the first n
    words of words(n+j) equal words(n) for any j (prefix stability is what
    lets callers truncate without re-deriving)."""
    from web_crawler_spark.core.webgen import _WORDS, words

    out = words(n, 42, "t", key)
    toks = out.split() if out else []
    assert len(toks) == n
    assert all(t in _WORDS for t in toks)
    assert out == words(n, 42, "t", key)  # deterministic
    longer = words(n + 5, 42, "t", key).split()
    assert longer[:n] == toks  # prefix-stable across the 4-word chunking


# printable latin-1 minus the quote-handling edge the SQL literal escaper
# already covers separately — the band stores ord(c) % 256, so any latin-1
# char must round-trip; text longer than capacity must refuse, not truncate
_band_text = st.text(
    alphabet=st.characters(min_codepoint=32, max_codepoint=255), max_size=120
)


@given(
    _band_text,
    st.integers(min_value=16, max_value=64),
    st.integers(min_value=16, max_value=64),
)
@settings(max_examples=200, deadline=None)
def test_ocr_band_roundtrip_on_fuzzed_text(text, w, h):
    px = imagecodec.reference_pixels("fuzz", w, h)
    if len(text) + 3 > w * h:
        return  # capacity refusal covered by the unit test
    planted = imagecodec.plant_text(px, text)
    rt, _, _, _ = imagecodec.decode(imagecodec.encode(planted, "png"))
    assert imagecodec.ocr_extract(rt) == text
    # green/blue channels untouched — the band is red-channel-only
    assert np.array_equal(planted[:, :, 1:], px[:, :, 1:])


@given(
    st.integers(min_value=0, max_value=2),
    st.integers(min_value=0, max_value=10**6),
)
@settings(max_examples=150, deadline=None)
def test_pii_detect_redact_fixpoint(n_regions, i):
    """detect→redact is a fixpoint: counts match planting, redaction removes
    every detectable region, and re-running detect finds nothing."""
    row = imagecodec.photo_row(f"pho-fz-{i}", n_regions=n_regions, seed=42)
    px, _, _, _ = imagecodec.decode(row["bytes"])
    mask, n = imagecodec.detect_pii(px)
    assert n == n_regions
    assert n_regions * 16 <= int(mask.sum()) <= n_regions * 49
    red = imagecodec.redact(px, mask)
    m2, n2 = imagecodec.detect_pii(red)
    assert n2 == 0 and int(m2.sum()) == 0
