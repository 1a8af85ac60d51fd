"""Deterministic synthetic web universe (FIXTURES.md §2).

Plays the role of the live web the reference fetches (``Crawler/crawler.py:142-190``).
Every property of every page — HTTP status, title, meta fields, headings,
paragraphs, raw outgoing hrefs (relative / %-encoded / fragment / query /
off-domain / duplicate forms) — is a pure function of ``(config.seed, url)``
via blake2b, so the driver-side oracle and executor-side pandas UDFs generate
the identical web with no shared state and no stored HTML. This is what lets
a 10^10-URL frontier exist without 10^10 stored pages.
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from functools import lru_cache
from typing import Optional
from urllib.parse import quote, urlparse

from hashlib import blake2b as _blake2b

from .hashing import pick, stable_hash64, unit_float

_WORDS = (
    "lorem ipsum dolor sit amet consectetur adipiscing elit sed do eiusmod tempor "
    "incididunt labore dolore magna aliqua enim minim veniam quis nostrud "
    "exercitation ullamco laboris nisi aliquip commodo consequat duis aute irure "
    "reprehenderit voluptate velit esse cillum fugiat nulla pariatur excepteur sint "
    "occaecat cupidatat proident sunt culpa officia deserunt mollit anim laborum "
    "data spark frontier crawler page index graph node edge queue batch shuffle"
).split()


# str(i).encode() for the word-index tail; sized past the largest words() call
_IBYTES = tuple(str(i).encode() for i in range(4096))


def words(n: int, *key: object) -> str:
    """n deterministic lowercase words keyed on *key* (safe charset, no markup).

    Words derive in chunks of FOUR: one 32-byte blake2b digest per chunk,
    one word per 8-byte slice — 4x fewer digest calls than hash-per-word,
    which was the single largest cost in the synthetic fetch path. Still a
    pure function of *key*; the engine UDFs and the pure-Python simulator
    share this function, so both sides of every golden test see the same
    web by construction.
    """
    pre = ("\x1f".join(map(str, key)) + "\x1fw\x1f").encode("utf-8")
    wl, m, bb, fb = _WORDS, len(_WORDS), _blake2b, int.from_bytes
    ib, nib = _IBYTES, len(_IBYTES)
    ws: list[str] = []
    ext = ws.extend
    for c in range((n + 3) // 4):
        d = bb(pre + (ib[c] if c < nib else str(c).encode()), digest_size=32).digest()
        ext(
            (
                wl[fb(d[:8], "big") % m],
                wl[fb(d[8:16], "big") % m],
                wl[fb(d[16:24], "big") % m],
                wl[fb(d[24:32], "big") % m],
            )
        )
    del ws[n:]
    return " ".join(ws)


@dataclass(frozen=True)
class WebConfig:
    """Shape of the synthetic web. ``hosts``/``pages_per_host`` are aligned."""

    seed: int = 42
    hosts: tuple[str, ...] = ()
    pages_per_host: tuple[int, ...] = ()
    mean_outlinks: int = 8
    # fraction of links leaving the site entirely (filtered by the domain gate)
    p_offsite: float = 0.10

    def host_index(self) -> dict[str, int]:
        return _host_index(self.hosts)

    def n_urls(self) -> int:
        return sum(self.pages_per_host)

    def site_of(self, host: str) -> str:
        """Registrable site of a host: last two labels (docs.site0.test -> site0.test)."""
        return ".".join(host.split(".")[-2:])


@lru_cache(maxsize=64)
def _host_index(hosts: tuple[str, ...]) -> dict[str, int]:
    return {h: i for i, h in enumerate(hosts)}


@lru_cache(maxsize=4096)
def _site_partition(hosts: tuple[str, ...], host: str) -> tuple[tuple[str, ...], tuple[str, ...]]:
    """(same-site hosts, off-site hosts) of *host* within *hosts*."""
    site = ".".join(host.split(".")[-2:])
    same = tuple(h for h in hosts if ".".join(h.split(".")[-2:]) == site)
    off = tuple(h for h in hosts if ".".join(h.split(".")[-2:]) != site)
    return same, off


def make_config(
    n_sites: int = 1,
    subdomains: tuple[str, ...] = ("",),
    base_pages: int = 64,
    skew: float = 0.0,
    mean_outlinks: int = 8,
    seed: int = 42,
) -> WebConfig:
    """Build a WebConfig: hosts = {sub}{site}.test grid, zipf-ish page counts."""
    hosts: list[str] = []
    for s in range(n_sites):
        for sub in subdomains:
            hosts.append(f"{sub}site{s}.test")
    pages = []
    for i in range(len(hosts)):
        p = max(2, int(base_pages / ((i + 1) ** skew)))
        pages.append(p)
    return WebConfig(
        seed=seed,
        hosts=tuple(hosts),
        pages_per_host=tuple(pages),
        mean_outlinks=mean_outlinks,
    )


def t1_config() -> WebConfig:
    """pytest smoke / golden-equality scale: 3 hosts, ~200 URLs (FIXTURES.md §7)."""
    return make_config(
        n_sites=2, subdomains=("", "docs."), base_pages=64, skew=0.3, mean_outlinks=8
    )


def url_of(host: str, i: int) -> str:
    return f"http://{host}/p/{i}"


# clean universe-URL shape; anything else (query/fragment suffixes, exotic
# digits/whitespace int() tolerates, uppercase) takes the urlparse path below
_PAGE_URL_RE = re.compile(r"^http://([a-z0-9.\-]+)/p/([0-9]+)$")


def parse_page_url(url: str) -> Optional[tuple[str, int]]:
    """Inverse of url_of; None if the URL is not of universe shape."""
    m = _PAGE_URL_RE.match(url)
    if m is not None:
        return m.group(1), int(m.group(2))
    p = urlparse(url)
    if p.scheme != "http" or not p.netloc:
        return None
    parts = p.path.split("/")
    if len(parts) == 3 and parts[0] == "" and parts[1] == "p":
        try:
            return p.netloc, int(parts[2])
        except ValueError:
            return None
    return None


def status_of(url: str, cfg: WebConfig) -> int:
    """HTTP status for a fetch of *url*. 0 = timeout/connection failure.

    Mix exercises every branch of the reference's fetch handler
    (``Crawler/crawler.py:156-190``): 200 content, 3xx redirect-report,
    404/500 hard fail, 429 retry-then-give-up, 0 timeout-after-backoff.
    Page 0 of each host is always 200 so every seed is crawlable; URLs outside
    the universe are 404.
    """
    loc = parse_page_url(url)
    if loc is None:
        return 404
    host, i = loc
    idx = cfg.host_index().get(host)
    if idx is None or not (0 <= i < cfg.pages_per_host[idx]):
        return 404
    if i == 0:
        return 200
    r = unit_float(cfg.seed, "status", url)
    if r < 0.88:
        return 200
    if r < 0.92:
        return 404
    if r < 0.95:
        return 301
    if r < 0.97:
        return 429
    if r < 0.98:
        return 500
    return 0


def image_id_of(url: str, cfg: WebConfig) -> str:
    return f"im{stable_hash64(cfg.seed, 'img', url):016x}"


def caption_of(image_id: str, cfg: WebConfig) -> str:
    n = 3 + stable_hash64(cfg.seed, "capn", image_id) % 10
    return words(n, cfg.seed, "cap", image_id)


@dataclass
class RawLink:
    href: str
    text: str  # "" means no inline text (exercise title-attr fallback)
    title_attr: str  # "" means absent


@dataclass
class PageSpec:
    url: str
    host: str
    status: int
    title: str
    image_id: str
    caption: str
    meta: dict[str, str]
    headings: dict[str, list[str]]
    paragraphs: list[str]
    raw_links: list[RawLink]
    n_images: int
    n_forms: int


_HREF_FORMS = ("abs", "rel_slash", "rel", "query", "frag", "enc", "abs_query_frag")


def _href_form(target_url: str, base_host: str, form: str, j: int) -> str:
    host, i = parse_page_url(target_url)  # type: ignore[misc]
    if host != base_host:
        # cross-host links must be absolute to resolve off-host
        form = "abs" if form in ("rel_slash", "rel") else form
    path = f"/p/{i}"
    if form == "abs":
        return target_url
    if form == "rel_slash":
        return path
    if form == "rel":
        return f"p/{i}"
    if form == "query":
        return f"{path}?ref={j}"
    if form == "frag":
        return f"{target_url}#sec{j}"
    if form == "enc":
        return "http://" + host + quote(path, safe="")  # %2Fp%2Fi → unquote round-trips
    if form == "abs_query_frag":
        return f"{target_url}?utm=x{j}#top"
    return target_url


def outlinks_of(url: str, cfg: WebConfig) -> list[RawLink]:
    """Raw anchors of *url* in document order (only meaningful for status-200 pages).

    Includes every canonicalization hazard of SURVEY.md §2.2 F5: relative paths,
    fragments, query strings, %-encoded paths, off-site absolute links, junk
    (``#``, ``mailto:``, ``javascript:``, empty), and duplicate targets in
    different raw forms (first-occurrence dedup, ``Crawler/crawler.py:429-430``).
    """
    loc = parse_page_url(url)
    if loc is None:
        return []
    host, _ = loc
    site = cfg.site_of(host)
    same_site_hosts, off_site_hosts = _site_partition(cfg.hosts, host)

    # ONE 64-byte digest per link carries all eight decision slots (8-byte
    # slices v0..v7) — replacing one digest per decision (~8-10 per link).
    # Slot v1 serves the dup-form choice on the early duplicate branch and
    # the link-text word count otherwise: the branches are mutually
    # exclusive, so the streams never correlate.
    s, u = cfg.seed, 1.0 / float(1 << 64)
    pre = f"{s}\x1flnk\x1f{url}\x1f".encode("utf-8")
    bb, fb = _blake2b, int.from_bytes
    host_idx = cfg.host_index()
    pages = cfg.pages_per_host
    forms, n_forms = _HREF_FORMS, len(_HREF_FORMS)

    n = 1 + stable_hash64(s, "nout", url) % (2 * cfg.mean_outlinks)
    out: list[RawLink] = []
    prev_target: Optional[str] = None
    for j in range(n):
        d = bb(pre + str(j).encode(), digest_size=64).digest()
        r = fb(d[:8], "big") * u
        if r < 0.03:
            out.append(RawLink("#", "", ""))
            continue
        if r < 0.05:
            out.append(RawLink(f"mailto:x{j}@{site}", words(1, s, "mt", url, j), ""))
            continue
        if r < 0.06:
            out.append(RawLink("", "", ""))
            continue
        if r < 0.08 and prev_target is not None:
            # duplicate of the previous target in a different raw form
            form = forms[fb(d[8:16], "big") % n_forms]
            href = _href_form(prev_target, host, form, j)
            out.append(RawLink(href, words(2, s, "dtx", url, j), ""))
            continue

        # choose a target host
        rt = fb(d[16:24], "big") * u
        if rt < 0.70 or not same_site_hosts:
            t_host = host
        elif rt < 1.0 - cfg.p_offsite or not off_site_hosts:
            t_host = same_site_hosts[fb(d[24:32], "big") % len(same_site_hosts)]
        else:
            t_host = off_site_hosts[fb(d[24:32], "big") % len(off_site_hosts)]
        t_pages = pages[host_idx[t_host]]
        # small chance of a dangling link (in-shape URL past the page count → 404)
        if fb(d[32:40], "big") * u < 0.03:
            t_i = t_pages + fb(d[40:48], "big") % 50
        else:
            t_i = fb(d[40:48], "big") % t_pages
        target = url_of(t_host, t_i)
        prev_target = target

        form = forms[fb(d[48:56], "big") % n_forms]
        href = _href_form(target, host, form, j)
        rtx = fb(d[56:64], "big") * u
        if rtx < 0.70:
            text = words(1 + fb(d[8:16], "big") % 4, s, "tx", url, j)
            title_attr = ""
        elif rtx < 0.85:
            text = ""
            title_attr = words(2, s, "ta", url, j)
        else:
            text = ""
            title_attr = ""
        out.append(RawLink(href, text, title_attr))
    return out


def page_spec(url: str, cfg: WebConfig) -> PageSpec:
    """Full deterministic spec of a page (status, content, links)."""
    loc = parse_page_url(url)
    host = loc[0] if loc else ""
    status = status_of(url, cfg)
    image_id = image_id_of(url, cfg)
    s = cfg.seed

    title = words(2 + stable_hash64(s, "tl", url) % 5, s, "title", url)
    # one long title occasionally → exercises the [:500] cap (crawler.py:462)
    if unit_float(s, "longtitle", url) < 0.02:
        title = words(120, s, "title", url)

    meta = {
        "description": words(8 + stable_hash64(s, "dn", url) % 100, s, "desc", url),
        "keywords": words(3 + stable_hash64(s, "kn", url) % 40, s, "kw", url),
        "og_title": words(3, s, "ogt", url) if unit_float(s, "hogt", url) < 0.7 else "",
        "og_description": words(10, s, "ogd", url) if unit_float(s, "hogd", url) < 0.6 else "",
        "og_image": f"http://{host}/img/{stable_hash64(s, 'ogi', url) % 1000}.png"
        if unit_float(s, "hogi", url) < 0.5
        else "",
        "og_url": url if unit_float(s, "hogu", url) < 0.5 else "",
        "viewport": "width=device-width, initial-scale=1" if unit_float(s, "vp", url) < 0.8 else "",
        "charset": "utf-8",
        "author": words(2, s, "au", url) if unit_float(s, "hau", url) < 0.4 else "",
        "robots": pick(["index, follow", "noindex", ""], s, "rb", url),
    }

    headings: dict[str, list[str]] = {}
    for lvl in range(1, 7):
        cnt_max = {1: 2, 2: 6, 3: 4, 4: 2, 5: 1, 6: 1}[lvl]
        n_h = stable_hash64(s, "nh", url, lvl) % (cnt_max + 1)
        hs = []
        for k in range(n_h):
            r = unit_float(s, "hkind", url, lvl, k)
            if r < 0.05:
                hs.append("")  # dropped by the filter (crawler.py:341)
            elif r < 0.08:
                hs.append(words(130, s, "hlong", url, lvl, k))  # >500 chars → dropped
            else:
                hs.append(words(2 + stable_hash64(s, "hn", url, lvl, k) % 6, s, "h", url, lvl, k))
        # occasionally exceed 20 per level → exercises the [:20] cap
        if lvl == 2 and unit_float(s, "manyh2", url) < 0.02:
            hs = hs + [words(3, s, "h2x", url, k) for k in range(25)]
        headings[f"h{lvl}"] = hs

    n_p = 2 + stable_hash64(s, "np", url) % 8
    paragraphs = []
    for k in range(n_p):
        r = unit_float(s, "pkind", url, k)
        if r < 0.15:
            paragraphs.append(words(1, s, "pshort", url, k))  # ≤10 chars → filtered
        elif r < 0.18:
            paragraphs.append(words(2500, s, "phuge", url, k))  # pushes past 10k cap
        else:
            paragraphs.append(words(5 + stable_hash64(s, "pn", url, k) % 60, s, "p", url, k))

    return PageSpec(
        url=url,
        host=host,
        status=status,
        title=title,
        image_id=image_id,
        caption=caption_of(image_id, cfg),
        meta=meta,
        headings=headings,
        paragraphs=paragraphs,
        raw_links=outlinks_of(url, cfg) if status == 200 else [],
        n_images=1 + stable_hash64(s, "nimg", url) % 4,
        n_forms=stable_hash64(s, "nform", url) % 2,
    )


def all_urls(cfg: WebConfig) -> list[str]:
    return [
        url_of(h, i)
        for h, n in zip(cfg.hosts, cfg.pages_per_host)
        for i in range(n)
    ]
