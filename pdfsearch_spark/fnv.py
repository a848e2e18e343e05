"""FNV-1 64 hash for document identity.

The reference assigns ``file_id = fnv.New32()(path)`` — FNV-**1**, not 1a
(``/root/reference/pdf/pdf.go:329-335``; the comment there says New32a but the
code calls ``fnv.New32()``). 32-bit ids collide catastrophically at web scale,
so per SURVEY.md §1.2 we widen to FNV-1 **64** of the url, keeping the same
hash family on both the engine and oracle sides so rank-identity stays
well-defined.
"""

from __future__ import annotations

_FNV1_64_OFFSET = 0xCBF29CE484222325
_FNV1_64_PRIME = 0x100000001B3
_MASK64 = 0xFFFFFFFFFFFFFFFF


def fnv1_64(data: bytes | str) -> int:
    """FNV-1 64-bit (multiply, then xor) — unsigned value in [0, 2^64)."""
    if isinstance(data, str):
        data = data.encode("utf-8")
    h = _FNV1_64_OFFSET
    for b in data:
        h = (h * _FNV1_64_PRIME) & _MASK64
        h ^= b
    return h


def fnv1_64_signed(data: bytes | str) -> int:
    """FNV-1 64-bit reinterpreted as a signed int64 (Spark LongType)."""
    h = fnv1_64(data)
    return h - 0x10000000000000000 if h >= 0x8000000000000000 else h
