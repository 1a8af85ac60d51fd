"""Deterministic toy image codec + perceptual hash for the image payload column.

BASELINE.json's ``input_hint`` makes the payload an Iceberg table of
``(image_id, bytes:binary, w, h, fmt, caption, phash:int64)`` rows with a
per-row invariant: decoded pixels allclose vs the reference decode (PSNR ≥ 40 dB
for lossy formats) and phash match.

Real image libraries (PIL/libvips/ffmpeg) are NOT in this container, so — as the
build brief directs — the decode step is a clearly-marked deterministic stand-in:
a tiny container format ``WCSI`` holding raw (fmt 'png', lossless) or 4-level
quantized (fmt 'jpeg'/'webp', lossy, PSNR ≈ 46 dB) uint8 RGB pixels. Swapping in
a real codec changes ONLY `encode`/`decode`; the Spark-side plumbing — binary
columns through Arrow, mapInPandas batch shape, invariant checks — is real and
is what the engine tests.
"""

from __future__ import annotations

import struct

import numpy as np

from .hashing import rng_bytes, stable_hash64

MAGIC = b"WCSI"
_FMT_CODES = {"png": 0, "jpeg": 1, "webp": 2}
_FMT_NAMES = {v: k for k, v in _FMT_CODES.items()}
LOSSY_FMTS = ("jpeg", "webp")
_Q = 4  # lossy quantization step → max error 2 → PSNR ≈ 46.4 dB ≥ 40 dB


def reference_pixels(image_id: str, w: int, h: int) -> np.ndarray:
    """Ground-truth pixels for *image_id* — deterministic uint8 RGB (h, w, 3)."""
    buf = rng_bytes(w * h * 3, "pixels", image_id)
    return np.frombuffer(buf, dtype=np.uint8).reshape(h, w, 3)


def encode(pixels: np.ndarray, fmt: str) -> bytes:
    """Encode uint8 RGB (h, w, 3) to WCSI container bytes."""
    if fmt not in _FMT_CODES:
        raise NotImplementedError(
            f"format {fmt!r}: real codecs are not available in this sandbox; "
            "supported stand-in formats are png/jpeg/webp (WCSI container)"
        )
    h, w, _ = pixels.shape
    header = MAGIC + struct.pack("<BII", _FMT_CODES[fmt], w, h)
    if fmt == "png":
        payload = pixels.tobytes()
    else:  # lossy: store quantized levels; decode reconstructs midpoints
        payload = (pixels // _Q).astype(np.uint8).tobytes()
    return header + payload


def decode(data: bytes) -> tuple[np.ndarray, int, int, str]:
    """Decode WCSI bytes → (pixels uint8 (h, w, 3), w, h, fmt). Raises on corrupt input."""
    if len(data) < 13 or data[:4] != MAGIC:
        raise ValueError("not a WCSI image")
    code, w, h = struct.unpack("<BII", data[4:13])
    fmt = _FMT_NAMES.get(code)
    if fmt is None:
        raise ValueError(f"unknown format code {code}")
    body = np.frombuffer(data[13:], dtype=np.uint8)
    if body.size != w * h * 3:
        raise ValueError("truncated pixel payload")
    px = body.reshape(h, w, 3)
    if fmt != "png":
        px = np.minimum(px.astype(np.uint16) * _Q + _Q // 2, 255).astype(np.uint8)
    return px, w, h, fmt


def psnr(a: np.ndarray, b: np.ndarray) -> float:
    """Peak signal-to-noise ratio in dB between two uint8 images; inf if equal."""
    mse = np.mean((a.astype(np.float64) - b.astype(np.float64)) ** 2)
    if mse == 0:
        return float("inf")
    return float(10.0 * np.log10(255.0**2 / mse))


def phash64(pixels: np.ndarray) -> int:
    """64-bit perceptual average-hash: grayscale → 8×8 block means → >global-mean bits.

    Signed int64 (Spark LongType). Stable under the lossy quantization above.
    """
    gray = pixels.astype(np.float64).mean(axis=2)
    h, w = gray.shape
    # pad to multiples of 8 then block-mean down to 8×8
    ph, pw = (-h) % 8, (-w) % 8
    if ph or pw:
        gray = np.pad(gray, ((0, ph), (0, pw)), mode="edge")
    bh, bw = gray.shape[0] // 8, gray.shape[1] // 8
    blocks = gray.reshape(8, bh, 8, bw).mean(axis=(1, 3))
    bits = (blocks > blocks.mean()).flatten()
    v = 0
    for bit in bits:
        v = (v << 1) | int(bit)
    return v - (1 << 64) if v >= (1 << 63) else v


def features(pixels: np.ndarray) -> dict:
    """Decoded-image feature projection: per-channel means, brightness, and
    the 8×8 block-mean thumbnail (the resize stage of the feature-extract
    pipeline) summarized by its variance.

    Shared by the Spark mapInPandas extractor AND the driver-side
    expected-metrics oracle generator so both run the identical float64
    numpy reduction — oracle parity is bit-equality by construction.
    """
    px = pixels.astype(np.float64)
    gray = px.mean(axis=2)
    h, w = gray.shape
    ph, pw = (-h) % 8, (-w) % 8
    if ph or pw:
        gray = np.pad(gray, ((0, ph), (0, pw)), mode="edge")
    thumb = gray.reshape(8, gray.shape[0] // 8, 8, gray.shape[1] // 8).mean(axis=(1, 3))
    return {
        "mean_r": float(px[:, :, 0].mean()),
        "mean_g": float(px[:, :, 1].mean()),
        "mean_b": float(px[:, :, 2].mean()),
        "brightness": float(gray.mean()),
        "thumb_var": float(thumb.var()),
    }


THUMB_FACTOR = 4  # linear downsample factor of the thumbnail transform


def resize_block_mean(pixels: np.ndarray) -> np.ndarray:
    """Deterministic area resize: edge-pad to a multiple of THUMB_FACTOR,
    then block-mean each THUMB_FACTOR×THUMB_FACTOR tile per channel
    (float64 means, truncated to uint8). Stand-in for a real
    area-interpolation resize — swapping in PIL/libvips changes only this
    function; the Spark-side binary-in / binary-out transform plumbing is
    what the engine tests."""
    factor = THUMB_FACTOR
    h, w, _ = pixels.shape
    ph, pw = (-h) % factor, (-w) % factor
    if ph or pw:
        pixels = np.pad(pixels, ((0, ph), (0, pw), (0, 0)), mode="edge")
    th, tw = pixels.shape[0] // factor, pixels.shape[1] // factor
    blocks = pixels.astype(np.float64).reshape(th, factor, tw, factor, 3).mean(axis=(1, 3))
    return blocks.astype(np.uint8)


def variant_pixels(image_id: str, w: int, h: int) -> np.ndarray:
    """Near-duplicate of *image_id*'s reference pixels: every 5th pixel in each
    axis gets bit 2 flipped (±4 of 255 on 1/25 of pixels). Block means move
    ~0.16 gray levels, so the 64-bit average-hash stays within a few bits of
    the original — deterministic planted near-dup structure for phash dedup."""
    px = reference_pixels(image_id, w, h).copy()
    px[::5, ::5, :] ^= 4
    return px


def variant_row(image_id: str, seed: int = 42) -> dict:
    """Images-table row for the planted near-duplicate ``{image_id}-v``:
    same dimensions as the base, perturbed pixels, lossless encode."""
    base = image_row(image_id, seed=seed)
    px = variant_pixels(image_id, base["w"], base["h"])
    data = encode(px, "png")
    decoded, _, _, _ = decode(data)
    return {
        "image_id": image_id + "-v",
        "bytes": data,
        "w": base["w"],
        "h": base["h"],
        "fmt": "png",
        "phash": phash64(decoded),
    }


# ---------------------------------------------------------------------------
# OCR stand-in: planted alt-text band (image→text extraction)
# ---------------------------------------------------------------------------
# Real OCR (tesseract/trOCR) is not in this container; the stand-in plants the
# text VERBATIM into the red channel behind a 2-byte magic + length header, so
# extraction has exact planted ground truth while the Spark-side plumbing —
# binary decode, Arrow batching, image→text column flow into the text tier —
# is real. Swapping in a real OCR model changes only plant_text/ocr_extract.
_OCR_MAGIC = (0xD7, 0x0C)


def plant_text(pixels: np.ndarray, text: str) -> np.ndarray:
    """Write *text* (≤255 chars, latin-1) row-major into the red channel."""
    px = pixels.copy()
    data = [*_OCR_MAGIC, len(text)] + [ord(c) % 256 for c in text]
    h, w, _ = px.shape
    if len(data) > h * w:
        raise ValueError("text does not fit in the image")
    idx = np.arange(len(data))
    px[idx // w, idx % w, 0] = data
    return px


def ocr_extract(pixels: np.ndarray) -> str:
    """Read back a planted text band; '' when no band is present."""
    red = pixels[:, :, 0].reshape(-1)
    if red.size < 3 or (int(red[0]), int(red[1])) != _OCR_MAGIC:
        return ""
    n = int(red[2])
    return "".join(chr(int(c)) for c in red[3 : 3 + n])


def scan_row(image_id: str, text: str | None, seed: int = 42) -> dict:
    """Images-table row for a 'scanned page': base reference pixels with
    *text* planted (or none), always lossless — a lossy encode would corrupt
    the byte-exact band, as a real scan pipeline would archive masters."""
    w = 16 + stable_hash64(seed, "iw", image_id) % 49
    h = 16 + stable_hash64(seed, "ih", image_id) % 49
    px = reference_pixels(image_id, w, h)
    if text is not None:
        px = plant_text(px, text)
    data = encode(px, "png")
    return {
        "image_id": image_id,
        "bytes": data,
        "w": w,
        "h": h,
        "fmt": "png",
        "phash": phash64(px),
    }


# ---------------------------------------------------------------------------
# PII-region stand-in: planted constant-value 'faces', detect + redact
# ---------------------------------------------------------------------------
PII_VALUE = 250  # planted regions are exact (250,250,250) rectangles
PII_MIN_AREA = 9  # detector ignores connected blobs smaller than this


def plant_region(pixels: np.ndarray, x: int, y: int, s: int) -> np.ndarray:
    """Fill the s×s square at (row y, col x) with the PII constant."""
    px = pixels.copy()
    px[y : y + s, x : x + s, :] = PII_VALUE
    return px


def detect_pii(pixels: np.ndarray) -> tuple[np.ndarray, int]:
    """(mask of PII pixels, number of connected regions ≥ PII_MIN_AREA).

    4-connected flood fill over the exact-value mask; sub-threshold blobs
    (chance collisions in the random base pixels) are dropped from BOTH the
    count and the mask, mirroring a real detector's minimum-face-size gate.
    """
    raw = (pixels == PII_VALUE).all(axis=2)
    keep = np.zeros_like(raw)
    seen = np.zeros_like(raw)
    h, w = raw.shape
    n = 0
    for i, j in zip(*np.nonzero(raw)):
        if seen[i, j]:
            continue
        stack, cells = [(i, j)], []
        seen[i, j] = True
        while stack:
            a, b = stack.pop()
            cells.append((a, b))
            for da, db in ((1, 0), (-1, 0), (0, 1), (0, -1)):
                x2, y2 = a + da, b + db
                if 0 <= x2 < h and 0 <= y2 < w and raw[x2, y2] and not seen[x2, y2]:
                    seen[x2, y2] = True
                    stack.append((x2, y2))
        if len(cells) >= PII_MIN_AREA:
            n += 1
            for a, b in cells:
                keep[a, b] = True
    return keep, n


def redact(pixels: np.ndarray, mask: np.ndarray) -> np.ndarray:
    """Black-box redaction: zero every masked pixel (deterministic stand-in
    for a blur — swapping in a Gaussian changes only this function)."""
    px = pixels.copy()
    px[mask] = 0
    return px


def photo_row(image_id: str, n_regions: int, seed: int = 42) -> dict:
    """Images-table row for a 'photo' with *n_regions* planted PII squares
    (≤2), placed in disjoint left/right halves with at least one empty
    column before each half boundary so planted regions can never touch and
    4-connect into one (found by the hypothesis fixpoint fuzz). Lossless
    encode: the lossy quantizer maps 248..251 all to 250, which would spray
    false-positive PII pixels over the random base."""
    w = 16 + stable_hash64(seed, "iw", image_id) % 49
    h = 16 + stable_hash64(seed, "ih", image_id) % 49
    px = reference_pixels(image_id, w, h)
    half = w // 2
    for k in range(n_regions):
        s = 4 + stable_hash64(seed, "piis", image_id, k) % 4  # 4..7 ≤ half-1 (7)
        x = k * half + stable_hash64(seed, "piix", image_id, k) % (half - s)
        y = stable_hash64(seed, "piiy", image_id, k) % (h - s + 1)
        px = plant_region(px, x, y, s)
    data = encode(px, "png")
    return {
        "image_id": image_id,
        "bytes": data,
        "w": w,
        "h": h,
        "fmt": "png",
        "phash": phash64(px),
    }


def image_row(image_id: str, seed: int = 42) -> dict:
    """Deterministic full images-table row for *image_id* (FIXTURES.md §1)."""
    w = 16 + stable_hash64(seed, "iw", image_id) % 49  # 16..64
    h = 16 + stable_hash64(seed, "ih", image_id) % 49
    fmt = ("png", "jpeg", "webp")[stable_hash64(seed, "ifmt", image_id) % 3]
    px = reference_pixels(image_id, w, h)
    data = encode(px, fmt)
    decoded, _, _, _ = decode(data)
    return {
        "image_id": image_id,
        "bytes": data,
        "w": w,
        "h": h,
        "fmt": fmt,
        "phash": phash64(decoded),
    }
