"""Unit tests for the pure-Python core (no Spark): URL canonicalization vs the
reference's exact urllib pipeline, HTML round-trip parse, image codec
invariants, robots semantics, and oracle-simulator sanity."""

from urllib.parse import unquote, urljoin, urlparse

import numpy as np
import pytest

from web_crawler_spark.config import JobConfig
from web_crawler_spark.core import htmlgen, htmlparse, imagecodec, oracle, webgen
from web_crawler_spark.core.robots import RobotsRule, allowed, generate_rules, rules_by_host
from web_crawler_spark.core.urlnorm import canonicalize, extract_links

BASE = "http://site0.test/p/3"
DOMAIN = "site0.test"


def reference_pipeline(href, base_url, domain):
    """Literal transcription of the reference's steps (crawler.py:407-427) used
    only as a test oracle for our canonicalize()."""
    if not href or href.startswith("#"):
        return None
    absolute = urljoin(base_url, href)
    decoded = unquote(absolute)
    p = urlparse(decoded)
    if not p.scheme or not p.netloc:
        return None
    clean = p._replace(fragment="", query="").geturl()
    if p.netloc == domain or p.netloc.endswith("." + domain):
        return clean
    return None


TRICKY_HREFS = [
    "", "#", "#top", "/p/5", "p/5", "../p/7", "./p/8",
    "http://site0.test/p/5?q=1#frag", "/p/5?a=b&c=d", "?only=query", "#x",
    "http://docs.site0.test/p/2", "http://other.test/p/1", "mailto:a@b.test",
    "javascript:void(0)", "//site0.test/p/9", "http://site0.test/p%2F11",
    "/p%2F12", "HTTP://site0.test/p/5", "http://SITE0.test/p/5",
    "http://site0.test:8080/p/5", "/p/5#frag?weird", "p5;params?q#f",
    "http://sub.docs.site0.test/a", "https://site0.test/p/6",
    "   /p/5", "/p/5   ", "путь/5", "/p/%D0%BF",
]


def test_canonicalize_matches_reference_pipeline():
    for href in TRICKY_HREFS:
        assert canonicalize(href, BASE, DOMAIN) == reference_pipeline(href, BASE, DOMAIN), href


def test_extract_links_first_occurrence_dedup_and_text():
    raw = [
        ("/p/5", "first text", None),
        ("http://site0.test/p/5?x=1", "dup different form", None),  # same clean URL
        ("/p/6", "", "title attr wins"),
        ("/p/7", "", None),  # no text at all → None
        ("#", "anchor", None),
        ("/p/5#again", "third dup", None),
        ("x" * 10, None, None),  # relative, resolves in-domain
    ]
    links = extract_links(raw, BASE, DOMAIN)
    urls = [l.to_url for l in links]
    assert urls[0] == "http://site0.test/p/5"
    assert urls.count("http://site0.test/p/5") == 1
    assert links[0].link_text == "first text"
    assert links[1].to_url == "http://site0.test/p/6"
    assert links[1].link_text == "title attr wins"
    assert links[2].link_text is None
    assert [l.link_idx for l in links] == list(range(len(links)))


def test_link_text_cap_200():
    raw = [("/p/5", "y" * 999, None)]
    assert len(extract_links(raw, BASE, DOMAIN)[0].link_text) == 200


def test_html_roundtrip_parse():
    cfg = webgen.t1_config()
    urls = webgen.all_urls(cfg)
    checked = 0
    for url in urls[:40]:
        spec = webgen.page_spec(url, cfg)
        if spec.status != 200:
            continue
        html = htmlgen.render_html(spec)
        assert htmlparse.parse_title(html) == spec.title.strip()[:500]
        meta = htmlparse.parse_metadata(html)
        for k, cap in htmlparse.META_CAPS.items():
            assert meta[k] == spec.meta[k][:cap], (url, k)
        heads = htmlparse.parse_headings(html)
        for lvl in range(1, 7):
            expected = [h.strip() for h in spec.headings[f"h{lvl}"] if h.strip() and len(h.strip()) <= 500][:20]
            assert heads[f"h{lvl}"] == expected
        content = htmlparse.parse_content(html)
        exp_paras = [p for p in spec.paragraphs if len(p.strip()) > 10]
        assert content["paragraphs_count"] == len(exp_paras)
        assert content["images_count"] == spec.n_images
        assert content["forms_count"] == spec.n_forms
        full = " ".join(p.strip() for p in exp_paras)
        assert content["content_text"] == full[:10000]
        assert content["word_count"] == len(full.split())  # untruncated-count quirk
        assert content["char_count"] == len(full)
        checked += 1
    assert checked > 10


def test_webgen_deterministic():
    cfg = webgen.t1_config()
    url = webgen.all_urls(cfg)[7]
    a, b = webgen.page_spec(url, cfg), webgen.page_spec(url, cfg)
    assert a == b
    assert webgen.status_of("http://nowhere.test/p/1", cfg) == 404
    assert webgen.status_of("not a url", cfg) == 404
    assert webgen.status_of(webgen.url_of(cfg.hosts[0], 0), cfg) == 200


def test_imagecodec_roundtrip_and_invariants():
    for fmt in ("png", "jpeg", "webp"):
        iid = f"im-test-{fmt}"
        px = imagecodec.reference_pixels(iid, 33, 21)
        data = imagecodec.encode(px, fmt)
        dec, w, h, f2 = imagecodec.decode(data)
        assert (w, h, f2) == (33, 21, fmt)
        if fmt == "png":
            assert np.array_equal(dec, px)
        else:
            assert imagecodec.psnr(dec, px) >= 40.0  # input_hint invariant
        assert imagecodec.phash64(dec) == imagecodec.phash64(imagecodec.decode(data)[0])
    with pytest.raises(ValueError):
        imagecodec.decode(b"garbage")
    with pytest.raises(NotImplementedError):
        imagecodec.encode(px, "tiff")


def test_image_row_phash_matches_decode():
    row = imagecodec.image_row("im-abc")
    dec, w, h, fmt = imagecodec.decode(row["bytes"])
    assert (w, h, fmt) == (row["w"], row["h"], row["fmt"])
    assert imagecodec.phash64(dec) == row["phash"]


def test_image_features_invariants():
    # constant image: every mean equals the constant, resize variance is 0
    flat = np.full((21, 33, 3), 7, dtype=np.uint8)
    f = imagecodec.features(flat)
    assert f["mean_r"] == f["mean_g"] == f["mean_b"] == f["brightness"] == 7.0
    assert f["thumb_var"] == 0.0
    # random image: means bounded by uint8 range, variance non-negative,
    # and the projection is deterministic (shared by UDF and oracle)
    px = imagecodec.reference_pixels("im-feats", 40, 24)
    f1, f2 = imagecodec.features(px), imagecodec.features(px)
    assert f1 == f2
    for k in ("mean_r", "mean_g", "mean_b", "brightness"):
        assert 0.0 <= f1[k] <= 255.0
    assert f1["thumb_var"] >= 0.0
    # non-multiple-of-8 dims exercise the edge padding without changing shape
    odd = imagecodec.features(imagecodec.reference_pixels("im-odd", 13, 9))
    assert 0.0 <= odd["brightness"] <= 255.0


def test_robots_semantics():
    rules = rules_by_host(
        [
            RobotsRule("a.test", "*", "disallow", "/p/1"),
            RobotsRule("a.test", "*", "allow", "/p/10"),
            RobotsRule("b.test", "*", "disallow", "/", parse_error=True),
            RobotsRule("c.test", "EvilBot/1.0", "disallow", "/"),
        ]
    )
    assert not allowed("http://a.test/p/1", "UA", rules)
    assert not allowed("http://a.test/p/15", "UA", rules)  # /p/1 prefix matches /p/15
    assert allowed("http://a.test/p/100", "UA", rules)  # longest prefix = allow
    assert allowed("http://a.test/p/2", "UA", rules)
    assert allowed("http://b.test/p/1", "UA", rules)  # parse error → fail-open
    assert allowed("http://unknown.test/x", "UA", rules)  # no rules → allow
    assert not allowed("http://c.test/p/1", "EvilBot/1.0", rules)
    assert allowed("http://c.test/p/1", "MyCrawler/1.0", rules)  # no '*' group


def test_oracle_basic_invariants():
    cfg = webgen.t1_config()
    rules = rules_by_host(generate_rules(cfg))
    job = JobConfig(job_id=1, start_url=webgen.url_of(cfg.hosts[0], 0),
                    max_pages=50, max_depth=3)
    res = oracle.simulate(job, cfg, rules)

    order = res.crawl_order()
    assert order[0] == job.start_url
    assert len(order) == len(set(order))  # dedup-at-enqueue → no repeats
    assert len(res.visited) <= job.max_pages
    assert res.visited == set(order)  # every admitted URL has a seq slot
    # BFS: depths along admission order are non-decreasing
    depths = [a["depth"] for a in res.admissions]
    assert depths == sorted(depths)
    assert max(depths) <= job.max_depth
    # determinism
    res2 = oracle.simulate(job, cfg, rules)
    assert res2.golden() == res.golden()
    # crawl_log ⊆ admissions; only parsed pages logged
    assert len(res.crawl_log) <= len(order)
    assert res.stats["pages_successful"] == len(res.crawl_log)
    assert all(p["status_code"] == 200 for p in res.crawl_log)
    assert res.stats["links_found"] == len(res.links)


def test_oracle_cap_binds_admission_not_processing():
    cfg = webgen.t1_config()
    rules = rules_by_host([])
    job = JobConfig(job_id=2, start_url=webgen.url_of(cfg.hosts[0], 0),
                    max_pages=5, max_depth=4)
    res = oracle.simulate(job, cfg, rules)
    assert len(res.visited) == 5  # cap reached exactly
    assert len(res.crawl_order()) == 5  # and all 5 processed
    # truncation is mid-page in admission order: first 4 children of the seed
    assert [a["parent_seq"] for a in res.admissions[1:]] == [0, 0, 0, 0]


def test_engine_tuning_one_place():
    """Every engine sizing knob derives from config.EngineTuning — no stray
    module constants remain."""
    from web_crawler_spark.config import DEFAULT_TUNING, EngineTuning

    t = DEFAULT_TUNING
    # overrides are wholesale and frozen (no mutation of the shared default)
    custom = EngineTuning(rows_per_partition=64, small_rank_threshold=1)
    assert custom.rows_per_partition == 64 and t.rows_per_partition == 512
    with pytest.raises(Exception):
        t.rows_per_partition = 1  # frozen dataclass
    # the old module-level constants are gone from the engine namespace
    import web_crawler_spark.engine as engine_mod
    for name in ("ROWS_PER_PARTITION", "SMALL_RANK_THRESHOLD", "WM_BROADCAST_MAX_HOSTS",
                 "BloomFilter64"):
        assert not hasattr(engine_mod, name)
