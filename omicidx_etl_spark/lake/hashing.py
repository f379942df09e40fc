"""The table's hash transforms, as Spark column expressions and as their
driver-side twins.

Every row of a LakeTable lives in bucket ``pmod(xxhash64(key), n)``
(``bucket_expr``); bloom sidecars set bits at ``pmod(xxhash64(key, s), m)``
(``lake.bloom``); staged writes place buckets on shuffle partitions through
Spark's Murmur3 ``HashPartitioning`` (``table._bucket_remap``). A point
lookup or a bloom probe starts from a handful of keys already on the
driver, so hashing them in the JVM would cost a Spark job per call. The
ports below reproduce Spark's ``XxHash64`` and ``Murmur3Hash`` bit for bit
(public XXH64 / Murmur3_x86_32 over the little-endian bytes Spark feeds
them), and the driver plans those reads without any job.
``tests/test_hashing.py`` checks them against the JVM.

Key types are limited to ``KEY_TYPES``: the byte encodings Spark hashes
for them are fixed here, and ``LakeTable.create`` rejects any other key.
"""

from __future__ import annotations

import struct
from typing import Any

from pyspark.sql import functions as F

KEY_TYPES = ("string", "int", "bigint")  # DataType.simpleString()

# Spark's default seed for F.xxhash64 and F.hash
SEED = 42

_M64 = (1 << 64) - 1
_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5

_INT_FORMATS = {"int": "<i", "bigint": "<q"}


def bucket_expr(key_col: str, n_buckets: int):
    """The bucket transform. Must be identical everywhere (write + prune);
    ``bucket_of`` is its driver twin."""
    return F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_buckets)).cast("int")


def bucket_of(value: Any, n_buckets: int, dtype: str) -> int:
    """``bucket_expr`` for one driver-held key of Spark type ``dtype``."""
    return xxhash64(value, dtype) % n_buckets  # python % == pmod


def xxhash64(value: Any, dtype: str, seed: int = SEED) -> int:
    """``F.xxhash64`` of one value of Spark type ``dtype`` (signed 64-bit).
    Spark hashes a string as its UTF-8 bytes, an ``int`` as 4 and a
    ``bigint`` as 8 little-endian bytes, and leaves the seed unchanged for
    null. ``F.xxhash64(a, b)`` chains: ``xxhash64(b, seed=xxhash64(a))``."""
    if value is None:
        return seed
    h = _xxh64(_key_bytes(value, dtype), seed & _M64)
    return h - (1 << 64) if h >= (1 << 63) else h


def _key_bytes(value: Any, dtype: str) -> bytes:
    if dtype == "string":
        if not isinstance(value, str):
            raise TypeError(f"{value!r} is not a string key")
        return value.encode("utf-8")
    fmt = _INT_FORMATS.get(dtype)
    if fmt is None:
        raise ValueError(
            f"unsupported key type {dtype!r} (supported: {', '.join(KEY_TYPES)})"
        )
    try:
        return struct.pack(fmt, value)
    except struct.error as e:
        raise TypeError(f"{value!r} is not a valid {dtype} key: {e}") from None


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _round(acc: int, lane: int) -> int:
    return _rotl((acc + lane * _P2) & _M64, 31) * _P1 & _M64


def _xxh64(data: bytes, seed: int) -> int:
    """XXH64 of ``data`` (unsigned result), the algorithm behind Spark's
    ``XXH64.hashUnsafeBytes`` / ``hashInt`` / ``hashLong``."""
    n = len(data)
    i = 0
    if n >= 32:
        v = [(seed + _P1 + _P2) & _M64, (seed + _P2) & _M64, seed, (seed - _P1) & _M64]
        while i + 32 <= n:
            lanes = struct.unpack_from("<4Q", data, i)
            v = [_round(a, lane) for a, lane in zip(v, lanes)]
            i += 32
        h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) + _rotl(v[3], 18)) & _M64
        for a in v:
            h = ((h ^ _round(0, a)) * _P1 + _P4) & _M64
    else:
        h = (seed + _P5) & _M64
    h = (h + n) & _M64
    while i + 8 <= n:
        h ^= _round(0, struct.unpack_from("<Q", data, i)[0])
        h = (_rotl(h, 27) * _P1 + _P4) & _M64
        i += 8
    if i + 4 <= n:
        h ^= struct.unpack_from("<I", data, i)[0] * _P1 & _M64
        h = (_rotl(h, 23) * _P2 + _P3) & _M64
        i += 4
    while i < n:
        h ^= data[i] * _P5 & _M64
        h = _rotl(h, 11) * _P1 & _M64
        i += 1
    h ^= h >> 33
    h = h * _P2 & _M64
    h ^= h >> 29
    h = h * _P3 & _M64
    return h ^ (h >> 32)


def _murmur3_int32(i: int, seed: int = SEED) -> int:
    """Spark's ``Murmur3Hash`` of one INT column value (the hash behind
    ``HashPartitioning`` / ``F.hash``), replicated so the driver can reason
    about shuffle-partition placement without a Spark job. Standard public
    Murmur3_x86_32 finalization over the 4-byte little-endian value."""
    k1 = (i & 0xFFFFFFFF) * 0xCC9E2D51 & 0xFFFFFFFF
    k1 = ((k1 << 15) | (k1 >> 17)) & 0xFFFFFFFF
    k1 = (k1 * 0x1B873593) & 0xFFFFFFFF
    h1 = (seed ^ k1) & 0xFFFFFFFF
    h1 = ((h1 << 13) | (h1 >> 19)) & 0xFFFFFFFF
    h1 = (h1 * 5 + 0xE6546B64) & 0xFFFFFFFF
    h1 ^= 4  # length in bytes
    h1 ^= h1 >> 16
    h1 = (h1 * 0x85EBCA6B) & 0xFFFFFFFF
    h1 ^= h1 >> 13
    h1 = (h1 * 0xC2B2AE35) & 0xFFFFFFFF
    h1 ^= h1 >> 16
    return h1 - (1 << 32) if h1 >= (1 << 31) else h1  # signed int32
