"""Image+caption payload invariant (input_hint): crawl → join images table →
decode/validate. Every crawled page must pass pixels/phash/caption checks."""

from web_crawler_spark import datagen, engine
from web_crawler_spark.config import JobConfig
from web_crawler_spark.core import webgen
from web_crawler_spark.core.robots import generate_rules, rules_by_host
from web_crawler_spark.operators.payload import payload_summary, validate_payload

CFG = webgen.t1_config()


def test_payload_invariants_on_crawled_pages(spark, tmp_path):
    rules = rules_by_host(generate_rules(CFG))
    job = JobConfig(job_id=9, start_url="http://site0.test/p/0", max_pages=30, max_depth=2, delay=0.0)
    run = engine.crawl(spark, job, CFG, rules, str(tmp_path / "p"))
    images = datagen.images_df(spark, CFG, partitions=8)
    val = validate_payload(run.read(spark, "crawl_log"), images)
    s = payload_summary(val).first()
    assert s["n_rows"] > 5
    assert s["n_decode_ok"] == s["n_rows"]
    assert s["n_pixels_ok"] == s["n_rows"]
    assert s["n_phash_ok"] == s["n_rows"]
    assert s["n_caption_ok"] == s["n_rows"]
    assert s["min_psnr_db"] is None or s["min_psnr_db"] >= 40.0


def test_payload_detects_corruption(spark):
    """A corrupted byte column must fail decode_ok, not pass silently."""
    import pyspark.sql.functions as F

    images = datagen.images_df(spark, CFG, partitions=4).limit(5)
    crawled = images.select(
        F.struct(F.col("image_id"), F.col("caption")).alias("payload")
    )
    corrupted = images.withColumn("bytes", F.lit(b"corrupted!"))
    from web_crawler_spark.operators.payload import validate_payload

    val = validate_payload(crawled, corrupted)
    rows = val.collect()
    assert len(rows) == 5
    assert all(not r["decode_ok"] and not r["pixels_ok"] for r in rows)
    assert all(r["caption_ok"] for r in rows)  # captions untouched


# ---------------------------------------------------------------------------
# the payload tier's decode stages, run on pandas batches with no Spark
# session: a valid row gives its oracle's expected values, a corrupt one the
# null record (key, any field set before the codec raised, False for every
# non-null flag, None for the rest)
# ---------------------------------------------------------------------------


class _Built(Exception):
    """Raised by `_Frame.mapInPandas` to hand back the stage a builder made."""


class _Frame:
    def mapInPandas(self, fn, schema):
        raise _Built(fn, schema)


def _stage(monkeypatch, build):
    """(mapInPandas function, schema) that *build(spark, sf_dir)* applies to
    its payload generator, captured before any Spark call."""
    import pytest

    from web_crawler_spark.analytics import multimodal

    monkeypatch.setattr(multimodal, "_payloads", lambda *a: _Frame())
    with pytest.raises(_Built) as e:
        build(None, None)
    return e.value.args


def _run(fn, rows):
    import pandas as pd

    (out,) = list(fn(iter([pd.DataFrame(rows)])))
    return out.to_dict("records")


def _check(got: dict, want: dict):
    import pandas as pd

    for k, v in want.items():
        if v is None:
            assert pd.isna(got[k]), (k, got[k])
        else:
            assert got[k] == v, (k, got[k], v)


def _valid_and_corrupt(row: dict) -> list[dict]:
    return [row, {**row, "bytes": b"corrupted!"}]


def _nulls(schema, **kept) -> dict:
    from pyspark.sql import types as T

    rec = {f.name: False if f.dataType == T.BooleanType() and not f.nullable else None for f in schema}
    return {**rec, **kept}


def test_image_decode_stage_null_record():
    from web_crawler_spark.analytics import multimodal as M
    from web_crawler_spark.functions import udfs

    (row,) = M._image_rows(1)
    row = {**row, "crawled_caption": row["caption"]}
    ok, bad = _run(udfs.decode_validate, _valid_and_corrupt(row))
    cols = ("image_id", "fmt", "w", "h", "decode_ok", "pixels_ok", "phash_ok", "caption_ok",
            "psnr_db", "brightness", "thumb_var")
    _check(ok, dict(zip(cols, M._expected_image_metrics()[1])))
    _check(bad, _nulls(udfs.VALIDATION_SCHEMA, image_id="img-1", caption_ok=True))


def test_audio_video_decode_stages_null_record(monkeypatch):
    from web_crawler_spark.analytics import multimodal as M

    fn, schema = _stage(monkeypatch, M.multimodal_audio)
    ok, bad = _run(fn, _valid_and_corrupt(M._audio_rows(1)[0]))
    _check(ok, dict(zip(schema.fieldNames(), M._expected_audio_metrics()[1])))
    _check(bad, _nulls(schema, audio_id="aud-1"))

    fn, schema = _stage(monkeypatch, M.multimodal_video)
    ok, bad = _run(fn, _valid_and_corrupt(M._video_rows(1)[0]))
    _check(ok, dict(zip(schema.fieldNames(), M._expected_video_metrics()[1])))
    _check(bad, _nulls(schema, video_id="vid-1"))


def test_image_transform_stages_null_record(monkeypatch):
    import zlib

    from web_crawler_spark.analytics import multimodal as M

    fn, schema = _stage(monkeypatch, M._thumbnails)
    ok, bad = _run(fn, _valid_and_corrupt(M._image_rows(1)[0]))
    iid, w, h, tw, th, n, crc = M._expected_thumbs()[1]
    _check(ok, {"image_id": iid, "w": w, "h": h, "tw": tw, "th": th})
    assert (len(ok["thumb"]), zlib.crc32(ok["thumb"])) == (n, crc)
    _check(bad, _nulls(schema, image_id="img-1"))

    fn, schema = _stage(monkeypatch, M.image_ocr_extract)
    ok, bad = _run(fn, _valid_and_corrupt(M._scan_rows(1)[0]))
    iid, extracted = M._expected_scans()[1]
    _check(ok, {"image_id": iid, "caption": "alt text for scan-1", "extracted": extracted})
    _check(bad, _nulls(schema, image_id="scan-1", caption="alt text for scan-1"))

    fn, schema = _stage(monkeypatch, M.image_pii_redact)
    ok, bad = _run(fn, _valid_and_corrupt(M._photo_rows(1)[0]))
    iid, n_regions, area_px, n, crc = M._expected_redactions()[1]
    _check(ok, {"image_id": iid, "n_regions": n_regions, "area_px": area_px})
    assert (len(ok["redacted"]), zlib.crc32(ok["redacted"])) == (n, crc)
    _check(bad, _nulls(schema, image_id="pho-1"))


def test_shard_reader_raises_on_corrupt_blob():
    import pandas as pd
    import pytest

    from web_crawler_spark.analytics import multimodal as M

    with pytest.raises(_Built) as e:
        M.read_shards(_Frame())
    fn, _schema = e.value.args
    (r,) = M._image_rows(1)
    blob = M.shard_blob([(r["image_id"], r["bytes"], r["caption"])])
    (out,) = list(fn(iter([pd.DataFrame({"shard_id": [3], "blob": [blob]})])))
    assert out.to_dict("records") == [
        {"shard_id": 3, "image_id": "img-1", "bytes": r["bytes"], "caption": r["caption"]}
    ]
    with pytest.raises(ValueError):
        list(fn(iter([pd.DataFrame({"shard_id": [3], "blob": [b"XXXX" + blob[4:]]})])))


# ---------------------------------------------------------------------------
# audio codec (WCSA): pure-python round-trip + invariant properties
# ---------------------------------------------------------------------------


def test_audiocodec_roundtrip_lossless():
    import numpy as np

    from web_crawler_spark.core import audiocodec

    s = audiocodec.reference_samples("aud-x", 2048)
    data = audiocodec.encode(s, 16000, "pcm")
    dec, sr, fmt = audiocodec.decode(data)
    assert sr == 16000 and fmt == "pcm"
    assert np.array_equal(dec, s)


def test_audiocodec_lossy_snr_and_corruption():
    import pytest

    from web_crawler_spark.core import audiocodec

    s = audiocodec.reference_samples("aud-y", 4000)
    data = audiocodec.encode(s, 8000, "pcm8")
    dec, sr, fmt = audiocodec.decode(data)
    assert fmt == "pcm8" and len(dec) == len(s)
    assert audiocodec.snr_db(s, dec) >= audiocodec.SNR_OK_DB
    with pytest.raises(ValueError):
        audiocodec.decode(b"corrupted!")
    with pytest.raises(ValueError):
        audiocodec.decode(data[:-3])  # truncated payload
    with pytest.raises(NotImplementedError):
        audiocodec.encode(s, 8000, "opus")  # real codecs absent in sandbox


def test_audio_features_deterministic():
    from web_crawler_spark.core import audiocodec

    r1 = audiocodec.audio_row("aud-7", seed=42)
    r2 = audiocodec.audio_row("aud-7", seed=42)
    assert r1 == r2
    dec, sr, _ = audiocodec.decode(r1["bytes"])
    f1 = audiocodec.features(dec, sr)
    f2 = audiocodec.features(dec, sr)
    assert f1 == f2
    assert f1["duration_s"] == len(dec) / sr
    assert 0 <= f1["n_clipped"] <= len(dec)


# ---------------------------------------------------------------------------
# video codec (WCSV): frame sampling decodes ONLY the sampled frames
# ---------------------------------------------------------------------------


def test_videocodec_roundtrip_and_sampling():
    import numpy as np

    from web_crawler_spark.core import videocodec

    r = videocodec.video_row("vid-x", seed=42)
    fmt, fps, n_frames, w, h = videocodec.read_header(r["bytes"])
    assert (fmt, fps, n_frames, w, h) == (r["fmt"], r["fps"], r["n_frames"], r["w"], r["h"])
    idx = videocodec.sample_indices(n_frames)
    assert idx == sorted(set(idx)) and all(0 <= i < n_frames for i in idx)
    frames = videocodec.decode_frames(r["bytes"], idx)
    assert set(frames) == set(idx)
    for i in idx:
        ref = videocodec.frame_pixels("vid-x", i, w, h)
        if fmt in videocodec.LOSSY_FMTS:
            from web_crawler_spark.core import imagecodec

            assert imagecodec.psnr(frames[i], ref) >= 40.0
        else:
            assert np.array_equal(frames[i], ref)
    assert videocodec.frames_ok("vid-x", r["bytes"])


def test_videocodec_sampling_skips_unsampled_payloads():
    """Corrupt an UNSAMPLED frame's pixel payload: the length-prefix walk must
    still decode the sampled set (proof the extractor seeks, not decodes)."""
    import struct

    import pytest

    from web_crawler_spark.core import videocodec

    vid = "vid-skip"
    data = videocodec.encode(vid, 16, 16, 10, 9, "png")
    idx = videocodec.sample_indices(9)
    victim = next(i for i in range(9) if i not in idx)
    # walk to the victim frame's payload and flip bytes INSIDE it (past the
    # 13-byte WCSI frame header, so only pixel data changes)
    off = videocodec._HDR_LEN
    for i in range(9):
        (blen,) = struct.unpack_from("<I", data, off)
        off += 4
        if i == victim:
            corrupted = (
                data[: off + 13] + bytes(b ^ 0xFF for b in data[off + 13 : off + blen]) + data[off + blen :]
            )
            break
        off += blen
    frames = videocodec.decode_frames(corrupted, idx)
    assert set(frames) == set(idx)  # sampled set decodes despite the corruption
    assert videocodec.frames_ok(vid, corrupted)  # invariant only covers samples
    # but decoding the victim itself must fail the pixel invariant
    assert not all(
        (videocodec.decode_frames(corrupted, [victim])[victim] == videocodec.frame_pixels(vid, victim, 16, 16)).all()
        for _ in [0]
    )
    with pytest.raises(ValueError):
        videocodec.decode_frames(data, [99])  # out-of-range index
    with pytest.raises(ValueError):
        videocodec.decode_frames(data[:-5], list(range(9)))  # truncated tail


def test_video_features_deterministic():
    from web_crawler_spark.core import videocodec

    r1 = videocodec.video_row("vid-7", seed=42)
    r2 = videocodec.video_row("vid-7", seed=42)
    assert r1 == r2
    f1 = videocodec.features("vid-7", r1["bytes"])
    f2 = videocodec.features("vid-7", r2["bytes"])
    assert f1 == f2
    assert f1["duration_s"] == r1["n_frames"] / r1["fps"]
    assert f1["n_sampled"] <= videocodec.N_SAMPLE


# ---------------------------------------------------------------------------
# image phash near-dup: planted variants land within the Hamming threshold
# ---------------------------------------------------------------------------


def test_variant_phash_is_near_duplicate():
    from web_crawler_spark.core import imagecodec

    for i in (0, 4, 8, 40):
        base = imagecodec.image_row(f"img-{i}", seed=42)
        var = imagecodec.variant_row(f"img-{i}", seed=42)
        assert var["image_id"] == f"img-{i}-v"
        assert (var["w"], var["h"]) == (base["w"], base["h"])
        xor = (base["phash"] ^ var["phash"]) & ((1 << 64) - 1)
        assert bin(xor).count("1") <= 6  # IMG_HAMMING_T


def test_image_phash_neardup_finds_planted_pairs(spark):
    from web_crawler_spark.analytics import multimodal

    rows = multimodal.image_phash_neardup(spark, "/root/testdata/sf0.001").collect()
    pairs = {(r["img_a"], r["img_b"]): r["hamming"] for r in rows}
    assert pairs, "no near-dup pairs found"
    # every result pair is a planted (base, variant) pair at this scale
    for (a, b), ham in pairs.items():
        assert b == a + "-v"
        assert 0 <= ham <= multimodal.IMG_HAMMING_T
    # and hamming agrees with the pure-python codec
    from web_crawler_spark.core import imagecodec

    for (a, b), ham in list(pairs.items())[:5]:
        pa = imagecodec.image_row(a, seed=42)["phash"]
        pb = imagecodec.variant_row(a, seed=42)["phash"]
        assert bin((pa ^ pb) & ((1 << 64) - 1)).count("1") == ham


def test_audio_fingerprint_properties():
    """Gain invariance + locality of the acoustic fingerprint, and the
    planted-variant contract: variants within AFP_HAMMING_T, unrelated
    clips far beyond it."""
    import numpy as np

    from web_crawler_spark.core import audiocodec

    s = audiocodec.reference_samples("aud-fp", 3000)
    fp = audiocodec.fingerprint64(s)
    assert audiocodec.fingerprint64(s.astype(np.int32) * 3) == fp  # global gain: invariant
    for i in (0, 4, 8, 40):
        base = audiocodec.audio_row(f"aud-{i}", seed=42)
        var = audiocodec.variant_row(f"aud-{i}", seed=42)
        assert var["audio_id"] == f"aud-{i}-v"
        assert (var["sr"], var["n_samples"]) == (base["sr"], base["n_samples"])
        d = bin(
            (audiocodec.fingerprint_of(base["bytes"]) ^ audiocodec.fingerprint_of(var["bytes"]))
            & ((1 << 64) - 1)
        ).count("1")
        assert d <= 6  # AFP_HAMMING_T
    a = audiocodec.fingerprint_of(audiocodec.audio_row("aud-0", seed=42)["bytes"])
    b = audiocodec.fingerprint_of(audiocodec.audio_row("aud-1", seed=42)["bytes"])
    assert bin((a ^ b) & ((1 << 64) - 1)).count("1") > 12  # unrelated: far apart


def test_video_vhash_properties():
    """Temporal-phash locality: variants (quadrant brightness wobble) within
    VID_HAMMING_T, unrelated clips far beyond; global brightness shift on
    every frame is exactly invariant (phash thresholds on the global mean)."""
    from web_crawler_spark.core import videocodec

    for i in (0, 4, 8, 40):
        base = videocodec.video_row(f"vid-{i}", seed=42)
        var = videocodec.variant_row(f"vid-{i}", seed=42)
        assert var["video_id"] == f"vid-{i}-v"
        assert (var["w"], var["h"], var["n_frames"]) == (base["w"], base["h"], base["n_frames"])
        d = bin(
            (videocodec.vhash64(base["bytes"]) ^ videocodec.vhash64(var["bytes"]))
            & ((1 << 64) - 1)
        ).count("1")
        assert d <= 6  # VID_HAMMING_T
    a = videocodec.vhash64(videocodec.video_row("vid-0", seed=42)["bytes"])
    b = videocodec.vhash64(videocodec.video_row("vid-1", seed=42)["bytes"])
    assert bin((a ^ b) & ((1 << 64) - 1)).count("1") > 12


def test_av_neardup_find_planted_pairs(spark):
    """The distributed audio/video near-dup queries find exactly the planted
    (base, variant) pairs at sf0.001, with hamming agreeing with the
    pure-python codec (third execution path)."""
    from web_crawler_spark.analytics import multimodal
    from web_crawler_spark.core import audiocodec, videocodec

    rows = multimodal.audio_fingerprint_neardup(spark, "/root/testdata/sf0.001").collect()
    pairs = {(r["aud_a"], r["aud_b"]): r["hamming"] for r in rows}
    assert pairs, "no audio near-dup pairs found"
    for (a, b), ham in pairs.items():
        assert b == a + "-v"
        fa = audiocodec.fingerprint_of(audiocodec.audio_row(a, seed=42)["bytes"])
        fb = audiocodec.fingerprint_of(audiocodec.variant_row(a, seed=42)["bytes"])
        assert bin((fa ^ fb) & ((1 << 64) - 1)).count("1") == ham

    rows = multimodal.video_phash_neardup(spark, "/root/testdata/sf0.001").collect()
    vpairs = {(r["vid_a"], r["vid_b"]): r["hamming"] for r in rows}
    assert vpairs, "no video near-dup pairs found"
    for (a, b), ham in vpairs.items():
        assert b == a + "-v"
        fa = videocodec.vhash64(videocodec.video_row(a, seed=42)["bytes"])
        fb = videocodec.vhash64(videocodec.variant_row(a, seed=42)["bytes"])
        assert bin((fa ^ fb) & ((1 << 64) - 1)).count("1") == ham


def test_imagecodec_ocr_plant_extract_roundtrip():
    import numpy as np
    import pytest

    from web_crawler_spark.core import imagecodec

    px = imagecodec.reference_pixels("scan-x", 20, 18)
    planted = imagecodec.plant_text(px, "alt text for scan-x")
    # survives a lossless encode/decode cycle byte-for-byte
    rt, _, _, _ = imagecodec.decode(imagecodec.encode(planted, "png"))
    assert imagecodec.ocr_extract(rt) == "alt text for scan-x"
    # untouched base pixels: no band, empty extraction
    assert imagecodec.ocr_extract(px) == ""
    # only the red channel is written, and only the header+payload prefix
    assert np.array_equal(planted[:, :, 1:], px[:, :, 1:])
    # oversized text refuses rather than truncating silently
    with pytest.raises(ValueError):
        imagecodec.plant_text(imagecodec.reference_pixels("t", 16, 16), "x" * 300)


def test_imagecodec_pii_detect_redact():
    import numpy as np

    from web_crawler_spark.core import imagecodec

    row = imagecodec.photo_row("pho-t", n_regions=2, seed=42)
    px, _, _, _ = imagecodec.decode(row["bytes"])
    mask, n = imagecodec.detect_pii(px)
    assert n == 2
    assert 2 * 16 <= int(mask.sum()) <= 2 * 49  # two 4..7-px squares
    red = imagecodec.redact(px, mask)
    assert (red[mask] == 0).all()
    assert np.array_equal(red[~mask], px[~mask])
    # nothing detectable remains after redaction
    _, n2 = imagecodec.detect_pii(red)
    assert n2 == 0
    # sub-threshold blobs are ignored by count AND mask (min-face-size gate)
    tiny = imagecodec.plant_region(
        imagecodec.reference_pixels("pho-clean", 24, 24), 3, 3, 2
    )
    m3, n3 = imagecodec.detect_pii(tiny)
    assert n3 == 0 and int(m3.sum()) == 0
