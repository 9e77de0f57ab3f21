"""Pure-Python twins of Spark's non-cryptographic hash expressions.

Spark's ``xxhash64``/``hash`` have no DuckDB analog, so fn_hash_native
could only get a rows-only check — unless the oracle can compute the same
values engine-free. These are line-for-line ports of the two algorithms as
Spark implements them (Spark source: common/unsafe/.../XXH64.java and
Murmur3_x86_32.java), used ONLY to precompute golden VALUES oracles:

- ``xxh64``: standard XXH64 (Yann Collet's public spec) over the UTF-8
  bytes; Spark seeds with 42 and returns the signed 64-bit value.
- ``murmur3_32``: Murmur3_x86_32 with Spark's OWN tail handling — trailing
  bytes are SIGN-EXTENDED and each fully mixed (mixK1+mixH1), unlike
  reference MurmurHash3 which accumulates the tail unmixed. (Spark keeps
  this deviation for cross-version compatibility; the source comments it
  as "not compatible with original".)

test_pyhash_matches_spark pins both against the JVM implementations on
fixture strings, so any drift fails loudly.
"""

from __future__ import annotations

_M64 = (1 << 64) - 1
_M32 = (1 << 32) - 1

_P64_1 = 0x9E3779B185EBCA87
_P64_2 = 0xC2B2AE3D27D4EB4F
_P64_3 = 0x165667B19E3779F9
_P64_4 = 0x85EBCA77C2B2AE63
_P64_5 = 0x27D4EB2F165667C5


def _rotl64(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _round64(acc: int, inp: int) -> int:
    return (_rotl64((acc + inp * _P64_2) & _M64, 31) * _P64_1) & _M64


def xxh64(data: bytes, seed: int = 42) -> int:
    """XXH64 of ``data``; returns Spark's signed 64-bit result."""
    n = len(data)
    if n >= 32:
        v1 = (seed + _P64_1 + _P64_2) & _M64
        v2 = (seed + _P64_2) & _M64
        v3 = seed & _M64
        v4 = (seed - _P64_1) & _M64
        i = 0
        while i <= n - 32:
            v1 = _round64(v1, int.from_bytes(data[i : i + 8], "little"))
            v2 = _round64(v2, int.from_bytes(data[i + 8 : i + 16], "little"))
            v3 = _round64(v3, int.from_bytes(data[i + 16 : i + 24], "little"))
            v4 = _round64(v4, int.from_bytes(data[i + 24 : i + 32], "little"))
            i += 32
        h = (_rotl64(v1, 1) + _rotl64(v2, 7) + _rotl64(v3, 12) + _rotl64(v4, 18)) & _M64
        for v in (v1, v2, v3, v4):
            h = ((h ^ _round64(0, v)) * _P64_1 + _P64_4) & _M64
    else:
        h = (seed + _P64_5) & _M64
        i = 0
    h = (h + n) & _M64
    while i <= n - 8:
        k = _round64(0, int.from_bytes(data[i : i + 8], "little"))
        h = ((_rotl64(h ^ k, 27) * _P64_1) + _P64_4) & _M64
        i += 8
    if i <= n - 4:
        h = ((_rotl64(h ^ (int.from_bytes(data[i : i + 4], "little") * _P64_1) & _M64, 23) * _P64_2) + _P64_3) & _M64
        i += 4
    while i < n:
        h = (_rotl64(h ^ (data[i] * _P64_5) & _M64, 11) * _P64_1) & _M64
        i += 1
    h ^= h >> 33
    h = (h * _P64_2) & _M64
    h ^= h >> 29
    h = (h * _P64_3) & _M64
    h ^= h >> 32
    return h - (1 << 64) if h >= 1 << 63 else h


def _mix_k1(k1: int) -> int:
    k1 = (k1 * 0xCC9E2D51) & _M32
    k1 = ((k1 << 15) | (k1 >> 17)) & _M32
    return (k1 * 0x1B873593) & _M32


def _mix_h1(h1: int, k1: int) -> int:
    h1 ^= k1
    h1 = ((h1 << 13) | (h1 >> 19)) & _M32
    return (h1 * 5 + 0xE6546B64) & _M32


def murmur3_32(data: bytes, seed: int = 42) -> int:
    """Murmur3_x86_32 with Spark's signed-byte full-mix tail; returns the
    signed 32-bit result (usable as the seed of a chained column hash)."""
    h1 = seed & _M32
    aligned = len(data) - len(data) % 4
    for i in range(0, aligned, 4):
        h1 = _mix_h1(h1, _mix_k1(int.from_bytes(data[i : i + 4], "little")))
    for i in range(aligned, len(data)):
        b = data[i] - 256 if data[i] >= 128 else data[i]  # sign-extend
        h1 = _mix_h1(h1, _mix_k1(b & _M32))
    h1 ^= len(data)
    h1 ^= h1 >> 16
    h1 = (h1 * 0x85EBCA6B) & _M32
    h1 ^= h1 >> 13
    h1 = (h1 * 0xC2B2AE35) & _M32
    h1 ^= h1 >> 16
    return h1 - (1 << 32) if h1 >= 1 << 31 else h1


def spark_hash_columns(values: list[bytes], seed: int = 42) -> int:
    """F.hash(c1, c2, ...): the running hash seeds the next column."""
    h = seed
    for v in values:
        h = murmur3_32(v, h)
    return h


def xxh64_int(value: int, seed: int) -> int:
    """XXH64 of a single 32-bit int column value (Spark XXH64.hashInt):
    the chained-seed step for multi-argument xxhash64(col, lit)."""
    h = (seed + _P64_5 + 4) & _M64
    h ^= ((value & _M32) * _P64_1) & _M64
    h = (_rotl64(h, 23) * _P64_2 + _P64_3) & _M64
    h ^= h >> 33
    h = (h * _P64_2) & _M64
    h ^= h >> 29
    h = (h * _P64_3) & _M64
    h ^= h >> 32
    return h


def murmur3_long(value: int, seed: int) -> int:
    """Murmur3_x86_32.hashLong: the long is hashed as its low then high
    32-bit halves, fmix'd with length 8. Returns the signed int32."""
    h1 = seed & _M32
    h1 = _mix_h1(h1, _mix_k1(value & _M32))
    h1 = _mix_h1(h1, _mix_k1((value >> 32) & _M32))
    h1 ^= 8
    h1 ^= h1 >> 16
    h1 = (h1 * 0x85EBCA6B) & _M32
    h1 ^= h1 >> 13
    h1 = (h1 * 0xC2B2AE35) & _M32
    h1 ^= h1 >> 16
    return h1 - (1 << 32) if h1 >= 1 << 31 else h1


def spark_hash_long_array(values: list[int], seed: int = 42) -> int:
    """F.hash(array<long>) — Spark folds the element hash over the array,
    each step a full hashLong (null elements are skipped)."""
    h = seed
    for v in values:
        if v is not None:
            h = murmur3_long(v & _M64, h)
    return h
