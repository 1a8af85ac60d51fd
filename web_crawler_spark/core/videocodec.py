"""Deterministic toy video codec for the video payload column.

Same discipline as :mod:`imagecodec` / :mod:`audiocodec` (FIXTURES.md): real
video libraries (ffmpeg/pyav) are NOT in this container, so the container is a
clearly-marked deterministic stand-in — ``WCSV`` holds a header plus
length-prefixed per-frame WCSI blobs (the same frame codec the image column
uses, so lossless/lossy semantics carry over per frame). Swapping in a real
codec changes ONLY `encode`/`decode_frames`; the Spark-side plumbing — binary
columns through Arrow, mapInPandas batch shapes, FRAME SAMPLING that seeks via
the length prefixes and decodes only the requested frames — is real and is
what the engine tests/queries exercise.

Frame sampling is the load-bearing operator here: at 100 TB a video corpus is
dominated by frames nobody needs — the extractor must skip, not decode, the
unsampled ones. `decode_frames(data, indices)` walks the length-prefix index
(O(n_frames) header reads) and runs the pixel decode only for `indices`;
`tests/test_payload.py` proves the skip by corrupting an unsampled frame's
payload and still decoding the sampled set.
"""

from __future__ import annotations

import struct

import numpy as np

from . import imagecodec
from .hashing import stable_hash64

MAGIC = b"WCSV"
_HDR = "<BBHII"  # fmt_code, fps, n_frames, w, h
_HDR_LEN = 4 + struct.calcsize(_HDR)
_FMT_CODES = {"png": 0, "jpeg": 1, "webp": 2}
_FMT_NAMES = {v: k for k, v in _FMT_CODES.items()}
LOSSY_FMTS = imagecodec.LOSSY_FMTS
N_SAMPLE = 4  # frames sampled per video by the feature extractor


def frame_pixels(video_id: str, idx: int, w: int, h: int) -> np.ndarray:
    """Ground-truth uint8 RGB pixels of frame *idx* — deterministic."""
    return imagecodec.reference_pixels(f"{video_id}/f{idx}", w, h)


def encode(video_id: str, w: int, h: int, fps: int, n_frames: int, fmt: str) -> bytes:
    """Encode the deterministic frame sequence to WCSV container bytes."""
    if fmt not in _FMT_CODES:
        raise NotImplementedError(
            f"format {fmt!r}: real codecs are not available in this sandbox; "
            "supported stand-in formats are png/jpeg/webp frames (WCSV container)"
        )
    parts = [MAGIC + struct.pack(_HDR, _FMT_CODES[fmt], fps, n_frames, w, h)]
    for i in range(n_frames):
        blob = imagecodec.encode(frame_pixels(video_id, i, w, h), fmt)
        parts.append(struct.pack("<I", len(blob)) + blob)
    return b"".join(parts)


def read_header(data: bytes) -> tuple[str, int, int, int, int]:
    """WCSV header → (fmt, fps, n_frames, w, h). Raises on corrupt input."""
    if len(data) < _HDR_LEN or data[:4] != MAGIC:
        raise ValueError("not a WCSV clip")
    code, fps, n_frames, w, h = struct.unpack(_HDR, data[4:_HDR_LEN])
    fmt = _FMT_NAMES.get(code)
    if fmt is None:
        raise ValueError(f"unknown format code {code}")
    return fmt, fps, n_frames, w, h


def sample_indices(n_frames: int) -> list[int]:
    """N_SAMPLE evenly-spaced frame indices (deduplicated, ascending)."""
    if n_frames <= 0:
        return []
    return sorted({(i * n_frames) // N_SAMPLE for i in range(min(N_SAMPLE, n_frames))})


def decode_frames(data: bytes, indices: list[int]) -> dict[int, np.ndarray]:
    """Decode ONLY the frames in *indices*, seeking past the rest.

    The walk reads each frame's 4-byte length prefix and skips the payload
    unless its index is requested — the frame-sample pattern a real demuxer
    gives you via its keyframe index."""
    fmt, fps, n_frames, w, h = read_header(data)
    want = set(indices)
    if any(i < 0 or i >= n_frames for i in want):
        raise ValueError("frame index out of range")
    out: dict[int, np.ndarray] = {}
    off = _HDR_LEN
    for i in range(n_frames):
        if off + 4 > len(data):
            raise ValueError("truncated frame index")
        (blen,) = struct.unpack_from("<I", data, off)
        off += 4
        if off + blen > len(data):
            raise ValueError("truncated frame payload")
        if i in want:
            px, fw, fh, ffmt = imagecodec.decode(data[off : off + blen])
            if (fw, fh, ffmt) != (w, h, fmt):
                raise ValueError("frame header disagrees with container header")
            out[i] = px
        off += blen
        if len(out) == len(want):
            break
    if len(out) != len(want):
        raise ValueError("missing requested frames")
    return out


def features(video_id: str, data: bytes) -> dict:
    """Frame-sampled per-clip features — identical math on executors and the
    driver-side oracle builder (float64 numpy throughout).

    brightness = mean over sampled frames of the frame's gray mean (explicit
    left-to-right fold over <= N_SAMPLE values); motion = mean absolute
    gray difference between consecutive sampled frames."""
    fmt, fps, n_frames, w, h = read_header(data)
    idx = sample_indices(n_frames)
    frames = decode_frames(data, idx)
    grays = [frames[i].astype(np.float64).mean(axis=2) for i in idx]
    b_acc = 0.0
    for g in grays:
        b_acc += float(g.mean())
    m_acc, m_n = 0.0, 0
    for a, b in zip(grays, grays[1:]):
        m_acc += float(np.abs(a - b).mean())
        m_n += 1
    return {
        "fmt": fmt,
        "fps": fps,
        "n_frames": n_frames,
        "w": w,
        "h": h,
        "n_sampled": len(idx),
        "duration_s": n_frames / fps,
        "brightness": b_acc / len(grays) if grays else None,
        "motion": m_acc / m_n if m_n else 0.0,
    }


def frames_ok(video_id: str, data: bytes) -> bool:
    """Per-row invariant on the SAMPLED frames: exact pixels for lossless,
    PSNR >= 40 dB vs the reference frame for lossy (input_hint semantics)."""
    fmt, fps, n_frames, w, h = read_header(data)
    idx = sample_indices(n_frames)
    frames = decode_frames(data, idx)
    for i in idx:
        ref = frame_pixels(video_id, i, w, h)
        if fmt in LOSSY_FMTS:
            if imagecodec.psnr(frames[i], ref) < 40.0:
                return False
        elif not np.array_equal(frames[i], ref):
            return False
    return True


def vhash64(data: bytes) -> int:
    """64-bit temporal perceptual hash: :func:`imagecodec.phash64` of the
    temporal MEAN of the sampled frames. Frame-sampled like :func:`features`
    — never decodes the full clip — so computing it at ingest costs the same
    O(N_SAMPLE) decode the feature pass already pays. Per-frame noise and
    re-encoding average out of the temporal mean; a localized content edit
    flips only the blocks it covers. Identical math on executors and the
    driver-side oracle builder."""
    fmt, fps, n_frames, w, h = read_header(data)
    idx = sample_indices(n_frames)
    frames = decode_frames(data, idx)
    mean_px = np.mean([frames[i].astype(np.float64) for i in idx], axis=0)
    return imagecodec.phash64(np.clip(np.rint(mean_px), 0, 255).astype(np.uint8))


def variant_row(video_id: str, seed: int = 42) -> dict:
    """Video-table row for the planted near-duplicate ``{video_id}-v``: the
    BASE clip's frames with a +3 brightness wobble on one deterministic
    QUADRANT per frame (a global brightness shift would be exactly
    phash-invariant — the wobble must be spatial to flip any bits), frames
    re-encoded lossless. Measured vhash Hamming distance from the base: 0-5
    across the planted corpus, vs >= 22 between unrelated clips."""
    base = video_row(video_id, seed=seed)
    w, h, fps, n = base["w"], base["h"], base["fps"], base["n_frames"]
    parts = [MAGIC + struct.pack(_HDR, _FMT_CODES["png"], fps, n, w, h)]
    for i in range(n):
        px = frame_pixels(video_id, i, w, h).astype(np.int16)
        qx = stable_hash64(7, f"vq{i}", video_id) % 2
        qy = stable_hash64(7, f"vr{i}", video_id) % 2
        px[qy * (h // 2) : (qy + 1) * (h // 2), qx * (w // 2) : (qx + 1) * (w // 2)] += 3
        blob = imagecodec.encode(np.clip(px, 0, 255).astype(np.uint8), "png")
        parts.append(struct.pack("<I", len(blob)) + blob)
    return {
        "video_id": video_id + "-v",
        "bytes": b"".join(parts),
        "w": w,
        "h": h,
        "fps": fps,
        "n_frames": n,
        "fmt": "png",
    }


def video_row(video_id: str, seed: int = 42) -> dict:
    """Deterministic full video-table row for *video_id*."""
    w = 16 + stable_hash64(seed, "vw", video_id) % 17  # 16..32
    h = 16 + stable_hash64(seed, "vh", video_id) % 17
    fps = (10, 24, 30)[stable_hash64(seed, "vfps", video_id) % 3]
    n_frames = 8 + stable_hash64(seed, "vn", video_id) % 25  # 8..32
    fmt = ("png", "jpeg", "webp")[stable_hash64(seed, "vfmt", video_id) % 3]
    return {
        "video_id": video_id,
        "bytes": encode(video_id, w, h, fps, n_frames, fmt),
        "w": w,
        "h": h,
        "fps": fps,
        "n_frames": n_frames,
        "fmt": fmt,
    }
