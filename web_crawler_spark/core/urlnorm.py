"""URL canonicalization with the reference crawler's exact semantics.

Mirrors the observable behavior of ``extract_links`` in the reference
(``Crawler/crawler.py:398-449``): skip empty/``#`` hrefs, ``urljoin`` against the
page URL, ``unquote``, require scheme+netloc, strip fragment+query, same-domain
gate (exact netloc or ``.domain`` suffix), per-page first-occurrence dedup, and
link-text fallback text→title-attr truncated to 200 chars.

Implemented from the published ``urllib.parse`` API only; used identically by
the pure-Python oracle (driver) and the vectorized pandas UDFs (executors) so
distributed results match the sequential reference bit-for-bit.
"""

from __future__ import annotations

import re
from typing import NamedTuple, Optional
from urllib.parse import unquote, urljoin, urlparse

LINK_TEXT_CAP = 200  # reference: Crawler/crawler.py:435,440

# Fast-path recognizers: href/base shapes on which the urllib pipeline below
# provably reduces to string surgery — no '%' (so unquote is a no-op), no '.'
# in any path segment (so remove_dot_segments is a no-op), no whitespace or
# control chars (urlsplit strips \t\r\n), lowercase http scheme and netloc
# (urlparse lowercases schemes), no ';' (no params split). Everything else
# falls through to the literal urllib pipeline. The hypothesis fuzz test
# (tests/test_property.py) asserts both paths agree on arbitrary hrefs.
_Q = r"(\?[A-Za-z0-9/_=&.\-]*)?(#[A-Za-z0-9/_=&.%\-]*)?$"
_FAST_ABS_RE = re.compile(r"^http://([a-z0-9.\-]+)(/[A-Za-z0-9/_\-]*)?" + _Q)
_FAST_BASE_RE = re.compile(r"^http://([a-z0-9.\-]+)(/[A-Za-z0-9/_\-]*)?$")
_FAST_REL_RE = re.compile(r"^(/?)([A-Za-z0-9_\-]+(?:/[A-Za-z0-9_\-]+)*/?)" + _Q)


def canonicalize(href: Optional[str], base_url: str, domain: str) -> Optional[str]:
    """Return the clean in-domain URL for *href* found on *base_url*, else None.

    Reference semantics, in order (Crawler/crawler.py:407-427):
      1. skip empty href or pure-anchor ``#...``
      2. absolutize: ``urljoin(base_url, href)``
      3. percent-decode the WHOLE absolute URL (``unquote``) before parsing —
         note this means ``%2F`` becomes a real path slash, as in the reference
      4. require a scheme and a netloc
      5. strip fragment and query: ``parsed._replace(fragment="", query="").geturl()``
      6. same-domain gate: ``netloc == domain`` or ``netloc.endswith('.' + domain)``
    """
    if not href or href.startswith("#"):
        return None
    m = _FAST_ABS_RE.match(href)
    if m is not None:
        netloc = m.group(1)
        if netloc == domain or netloc.endswith("." + domain):
            return "http://" + netloc + (m.group(2) or "")
        return None
    mb = _FAST_BASE_RE.match(base_url)
    if mb is not None:
        mr = _FAST_REL_RE.match(href)
        if mr is not None:
            netloc = mb.group(1)
            if not (netloc == domain or netloc.endswith("." + domain)):
                return None
            body = mr.group(2)
            if mr.group(1):  # root-relative: /p/5
                return "http://" + netloc + "/" + body
            # bare relative resolves against the base's directory (so `p/5`
            # on /p/3 yields /p/p/5 — the reference's dangling-link shape)
            bpath = mb.group(2) or "/"
            return "http://" + netloc + bpath[: bpath.rfind("/") + 1] + body
    return _canonicalize_urllib(href, base_url, domain)


def _canonicalize_urllib(href: str, base_url: str, domain: str) -> Optional[str]:
    """The literal urllib form of the pipeline (all non-fast-path inputs)."""
    absolute = urljoin(base_url, href)
    decoded = unquote(absolute)
    parsed = urlparse(decoded)
    if not parsed.scheme or not parsed.netloc:
        return None
    clean = parsed._replace(fragment="", query="").geturl()
    if not (parsed.netloc == domain or parsed.netloc.endswith("." + domain)):
        return None
    return clean


def link_display_text(text: Optional[str], title_attr: Optional[str]) -> Optional[str]:
    """Link text resolution: stripped text, else stripped title attr, else None.

    Reference: Crawler/crawler.py:432-440 (both capped at 200 chars; a link with
    neither is simply absent from ``link_texts`` — rendered as None downstream).
    """
    t = (text or "").strip()
    if t:
        return t[:LINK_TEXT_CAP]
    ta = (title_attr or "").strip()
    if ta:
        return ta[:LINK_TEXT_CAP]
    return None


class ExtractedLink(NamedTuple):
    to_url: str
    link_text: Optional[str]
    link_idx: int  # 0-based position in the page's deduped link list


def extract_links(
    raw_links: list[tuple[Optional[str], Optional[str], Optional[str]]],
    base_url: str,
    domain: str,
) -> list[ExtractedLink]:
    """Canonicalize + first-occurrence-dedup a page's raw anchors, in document order.

    *raw_links* is ``[(href, text, title_attr), ...]`` in document order.
    First occurrence wins both the slot and the link text (reference keeps the
    first text seen for a URL because later duplicates are skipped entirely,
    Crawler/crawler.py:429-440).
    """
    seen: set[str] = set()
    out: list[ExtractedLink] = []
    for href, text, title_attr in raw_links:
        clean = canonicalize(href, base_url, domain)
        if clean is None or clean in seen:
            continue
        seen.add(clean)
        out.append(ExtractedLink(clean, link_display_text(text, title_attr), len(out)))
    return out

