"""Spark's ``xxhash64`` on the driver, in pure Python.

Point lookups hash one key to find its bucket. Computing that with
``F.xxhash64`` costs a Spark job per lookup; :func:`spark_xxhash64`
returns the same 64-bit value without one. It must match Spark bit for
bit: the stored buckets were written by the Spark expression, and a probe
that hashes one key differently reads a bucket that does not hold it.
``tests/test_point_read.py`` checks the equivalence against Spark for
every column type the lake supports.

Spark's ``XxHash64(c1, c2, ...)`` starts from seed 42 and folds each
non-null value into the running hash, used as the next value's seed. Each
value is hashed as standard XXH64 over its little-endian bytes:

- ``int``, ``date`` (epoch days) and ``boolean`` (0/1) as 4 bytes;
- ``bigint`` and ``timestamp`` (epoch micros) as 8 bytes;
- ``float``/``double`` as the bits of ``floatToIntBits``/``doubleToLongBits``
  (NaN canonical, -0.0 hashed as 0.0);
- ``string`` as its UTF-8 bytes, ``binary`` as its raw bytes.
"""

from __future__ import annotations

import math
import struct
from typing import Any, Iterable

_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5
_M64 = (1 << 64) - 1

_SEED = 42  # Spark's HashExpression default


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _round(acc: int, lane: int) -> int:
    return _rotl((acc + lane * _P2) & _M64, 31) * _P1 & _M64


def _xxh64(data: bytes, seed: int) -> int:
    """Standard XXH64 of ``data`` as an unsigned 64-bit int."""
    n = len(data)
    seed &= _M64
    i = 0
    if n >= 32:
        v = [(seed + _P1 + _P2) & _M64, (seed + _P2) & _M64, seed, (seed - _P1) & _M64]
        while i + 32 <= n:
            for j in range(4):
                v[j] = _round(v[j], int.from_bytes(data[i + 8 * j : i + 8 * j + 8], "little"))
            i += 32
        h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) + _rotl(v[3], 18)) & _M64
        for x in v:
            h = ((h ^ _round(0, x)) * _P1 + _P4) & _M64
    else:
        h = (seed + _P5) & _M64
    h = (h + n) & _M64
    while i + 8 <= n:
        h ^= _round(0, int.from_bytes(data[i : i + 8], "little"))
        h = (_rotl(h, 27) * _P1 + _P4) & _M64
        i += 8
    if i + 4 <= n:
        h ^= int.from_bytes(data[i : i + 4], "little") * _P1 & _M64
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


def _float_bytes(v: float, fmt: str, nan: bytes) -> bytes:
    if math.isnan(v):
        return nan
    return struct.pack(fmt, 0.0 if v == 0.0 else v)


def _value_bytes(ddl: str, v: Any) -> bytes:
    """The bytes Spark hashes for internal value ``v`` of type ``ddl``."""
    if ddl in ("bigint", "timestamp"):
        return struct.pack("<q", v)
    if ddl in ("int", "date", "boolean"):
        return struct.pack("<i", int(v))
    if ddl == "double":
        return _float_bytes(v, "<d", struct.pack("<Q", 0x7FF8000000000000))
    if ddl == "float":
        return _float_bytes(v, "<f", struct.pack("<I", 0x7FC00000))
    if ddl == "string":
        return v.encode("utf-8")
    if ddl == "binary":
        return bytes(v)
    raise ValueError(f"no xxhash64 encoding for type {ddl}")


def spark_xxhash64(values: Iterable[tuple[str, Any]]) -> int:
    """``xxhash64(c1, c2, ...)`` over ``(ddl type, internal value)`` pairs,
    as the signed long Spark returns. ``None`` values are skipped."""
    h = _SEED
    for ddl, v in values:
        if v is not None:
            h = _xxh64(_value_bytes(ddl, v), h)
    return h - (1 << 64) if h >> 63 else h
