"""Pure-Python model of Spark's XXH64 (``F.xxhash64``), for test references.

Spark hashes a string as XXH64 over its UTF-8 bytes with seed 42, and a
multi-column ``xxhash64(a, b, ...)`` chains hashLong over the columns, each
column's hash seeding the next. ``tests/test_sql_oracle.py`` checks this
model, the DuckDB replay and Spark against each other.
"""

from __future__ import annotations

import struct

_M = (1 << 64) - 1
P1 = 0x9E3779B185EBCA87
P2 = 0xC2B2AE3D27D4EB4F
P3 = 0x165667B19E3779F9
P4 = 0x85EBCA77C2B2AE63
P5 = 0x27D4EB2F165667C5


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M


def _round(acc: int, lane: int) -> int:
    return (_rotl((acc + lane * P2) & _M, 31) * P1) & _M


def _fmix(h: int) -> int:
    h ^= h >> 33
    h = (h * P2) & _M
    h ^= h >> 29
    h = (h * P3) & _M
    return h ^ (h >> 32)


def _signed(h: int) -> int:
    return h - (1 << 64) if h >> 63 else h


def xxh64_bytes(data: bytes, seed: int = 42) -> int:
    n, o, seed = len(data), 0, seed & _M
    if n >= 32:
        v = [(seed + P1 + P2) & _M, (seed + P2) & _M, seed, (seed - P1) & _M]
        while o + 32 <= n:
            lanes = struct.unpack_from("<4Q", data, o)
            v = [_round(a, lane) for a, lane in zip(v, lanes)]
            o += 32
        h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) + _rotl(v[3], 18)) & _M
        for a in v:
            h = ((h ^ _round(0, a)) * P1 + P4) & _M
    else:
        h = (seed + P5) & _M
    h = (h + n) & _M
    while o + 8 <= n:
        h = (_rotl(h ^ _round(0, struct.unpack_from("<Q", data, o)[0]), 27) * P1 + P4) & _M
        o += 8
    if o + 4 <= n:
        h ^= (struct.unpack_from("<I", data, o)[0] * P1) & _M
        h = (_rotl(h, 23) * P2 + P3) & _M
        o += 4
    for b in data[o:]:
        h = (_rotl(h ^ ((b * P5) & _M), 11) * P1) & _M
    return _signed(_fmix(h))


def xxhash64(s: str) -> int:
    """``F.xxhash64(s)`` for a string."""
    return xxh64_bytes(s.encode("utf-8"))


def hash_long(v: int, seed: int) -> int:
    """XXH64 hashLong of a signed 64-bit ``v`` under a signed 64-bit seed."""
    h = ((seed & _M) + P5 + 8) & _M
    h = (_rotl(h ^ _round(0, v & _M), 27) * P1 + P4) & _M
    return _signed(_fmix(h))


def xxhash64_longs(*vals: int) -> int:
    """``F.xxhash64(a, b, ...)`` over non-null BIGINT columns."""
    h = 42
    for v in vals:
        h = hash_long(v, h)
    return h


def pmod_bucket(s: str, n_buckets: int) -> int:
    """``pmod(xxhash64(s), n_buckets)``: the hashed-feature bucket."""
    return xxhash64(s) % n_buckets
