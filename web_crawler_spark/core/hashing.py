"""Stable, process-independent hashing used for all synthetic-data decisions.

Python's builtin ``hash`` is salted per process; everything deterministic in
this engine (web graph shape, statuses, image pixels) derives from blake2b so
small-scale oracle runs and large-scale executor-side generation agree bit-for-bit.
"""

from __future__ import annotations

import hashlib
import struct

_blake2b = hashlib.blake2b
_from_bytes = int.from_bytes


def stable_hash64(*parts: object) -> int:
    """Unsigned 64-bit hash of the '\\x1f'-joined string forms of *parts*."""
    data = "\x1f".join(map(str, parts)).encode("utf-8")
    return _from_bytes(_blake2b(data, digest_size=8).digest(), "big")


def unit_float(*parts: object) -> float:
    """Deterministic float in [0, 1) keyed on *parts*."""
    return stable_hash64(*parts) / float(1 << 64)


def pick(seq, *parts: object):
    """Deterministic element choice keyed on *parts*."""
    return seq[stable_hash64(*parts) % len(seq)]


def rng_bytes(n: int, *parts: object) -> bytes:
    """n deterministic bytes keyed on *parts* (blake2b in counter mode)."""
    out = bytearray()
    ctr = 0
    seed = "\x1f".join(str(p) for p in parts).encode("utf-8")
    while len(out) < n:
        out += hashlib.blake2b(seed + struct.pack("<Q", ctr), digest_size=32).digest()
        ctr += 1
    return bytes(out[:n])
