"""Driver-side replica of Spark's ``F.hash`` (Murmur3_x86_32, seed 42).

LakeVault's physical layout keys every row to ``pmod(hash(key_cols), n)``
(``bucket_expr``, plans/lakevault.py) — that hash is Spark's Catalyst
``Murmur3Hash`` expression. Re-implementing it bit-exactly in Python lets
the DRIVER compute the bucket of a literal key without a Spark job, which
turns a fully-keyed point probe into a single-bucket manifest prune:

- ``LakeVault.pruned_files(key_equals=...)`` keeps only the key's bucket —
  at 4096 buckets that alone drops 99.98% of files before any stats are
  consulted. ``scan(key_equals=...)`` and the ``lakevault`` data source
  (``EqualTo`` filters on ALL key columns) both go through it;
- the data source's writer buckets rows by it when the input has no
  ``__bucket`` column.

Semantics replicated from Spark's hash expression (one value chained into
the next as the seed; null leaves the seed unchanged):

- int/short/byte/boolean/date → ``hashInt`` (one 4-byte block),
- long/timestamp → ``hashLong`` (two 4-byte blocks, low word first),
- float/double → bit pattern hashed as int/long, ``-0.0`` normalized,
- string → ``hashUnsafeBytes`` over UTF-8: 4-byte little-endian blocks,
  then each TRAILING byte mixed as a full (sign-extended) block.

Bit-exactness is pinned by a property test against ``F.hash`` over random
strings (incl. non-ASCII), ints, longs, doubles, bools and nulls
(tests/test_sparkhash.py). Scalar by design: the callers hash literal
probes (O(1) per query), never row data — row-side hashing stays in the
JVM where it belongs.
"""

from __future__ import annotations

import struct
from datetime import datetime, timedelta, timezone
from typing import Any

_MASK = 0xFFFFFFFF
_C1 = 0xCC9E2D51
_C2 = 0x1B873593


def _rotl(x: int, r: int) -> int:
    x &= _MASK
    return ((x << r) | (x >> (32 - r))) & _MASK


def _mix_k1(k1: int) -> int:
    k1 = (k1 * _C1) & _MASK
    k1 = _rotl(k1, 15)
    return (k1 * _C2) & _MASK


def _mix_h1(h1: int, k1: int) -> int:
    h1 ^= k1
    h1 = _rotl(h1, 13)
    return (h1 * 5 + 0xE6546B64) & _MASK


def _fmix(h1: int, length: int) -> int:
    h1 ^= length
    h1 ^= h1 >> 16
    h1 = (h1 * 0x85EBCA6B) & _MASK
    h1 ^= h1 >> 13
    h1 = (h1 * 0xC2B2AE35) & _MASK
    h1 ^= h1 >> 16
    return h1


def _hash_int(value: int, seed: int) -> int:
    return _fmix(_mix_h1(seed & _MASK, _mix_k1(value & _MASK)), 4)


def _hash_long(value: int, seed: int) -> int:
    low = value & _MASK
    high = (value >> 32) & _MASK
    h1 = _mix_h1(seed & _MASK, _mix_k1(low))
    h1 = _mix_h1(h1, _mix_k1(high))
    return _fmix(h1, 8)


def _hash_bytes(data: bytes, seed: int) -> int:
    n = len(data)
    aligned = n - n % 4
    h1 = seed & _MASK
    for i in range(0, aligned, 4):
        (block,) = struct.unpack_from("<i", data, i)
        h1 = _mix_h1(h1, _mix_k1(block & _MASK))
    for i in range(aligned, n):
        b = data[i]
        if b >= 128:
            b -= 256  # Java getByte is SIGNED; the sign extension matters
        h1 = _mix_h1(h1, _mix_k1(b & _MASK))
    return _fmix(h1, n)


_EPOCH = datetime(1970, 1, 1, tzinfo=timezone.utc)


def _hash_one(value: Any, seed: int, spark_type: str | None = None) -> int:
    """Hash one value into ``seed`` per Catalyst's per-type rule.
    ``spark_type`` disambiguates Python ``int`` (Spark int vs long — their
    hashes differ); unspecified ints hash as LONG, matching the engine's
    key/seq columns. Null returns the seed unchanged (Spark's rule)."""
    if value is None:
        return seed & _MASK
    if isinstance(value, bool):
        return _hash_int(1 if value else 0, seed)
    if isinstance(value, str):
        return _hash_bytes(value.encode("utf-8"), seed)
    if isinstance(value, bytes):
        return _hash_bytes(value, seed)
    if isinstance(value, int):
        if spark_type in ("int", "integer", "short", "byte", "date"):
            return _hash_int(value, seed)
        return _hash_long(value, seed)
    if isinstance(value, float):
        if spark_type in ("float",):
            if value == 0.0:
                value = 0.0  # normalize -0.0f
            (bits,) = struct.unpack("<i", struct.pack("<f", value))
            return _hash_int(bits, seed)
        if value == 0.0:
            value = 0.0  # normalize -0.0
        (bits,) = struct.unpack("<q", struct.pack("<d", value))
        return _hash_long(bits, seed)
    if isinstance(value, datetime):
        # TimestampType = microseconds since epoch, hashed as long; naive
        # datetimes are taken as UTC (the engine pins a UTC session).
        # Exact integer arithmetic (timedelta floor-division is exact): the
        # previous int(total_seconds())*1e6 + microsecond truncated toward
        # zero, so any PRE-EPOCH timestamp with a sub-second component hashed
        # to the wrong value (and float total_seconds() rounds for far-future
        # dates) — a wrong bucket would make key_equals pruning silently
        # return no rows (r5 ADVICE, medium).
        dt = value if value.tzinfo is not None else value.replace(tzinfo=timezone.utc)
        micros = (dt - _EPOCH) // timedelta(microseconds=1)
        return _hash_long(micros, seed)
    raise TypeError(f"spark_murmur3: unsupported probe type {type(value).__name__}")


def spark_hash(values: list[Any], types: list[str | None] | None = None, seed: int = 42) -> int:
    """``F.hash(*cols)`` for one row of literals: chain each value's hash
    into the next as the seed; return as SIGNED int32 (Spark's IntegerType
    result)."""
    h = seed & _MASK
    types = types or [None] * len(values)
    for v, t in zip(values, types):
        h = _hash_one(v, h, t)
    return h - 0x100000000 if h >= 0x80000000 else h


def bucket_of(values: list[Any], n_buckets: int, types: list[str | None] | None = None) -> int:
    """``pmod(hash(keys), n_buckets)`` — the LakeVault bucket of a literal
    key (must match ``LakeVault.bucket_expr`` bit for bit; pinned by the
    property test)."""
    return spark_hash(values, types) % n_buckets
