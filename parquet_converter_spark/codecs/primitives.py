"""Vectorized bit-level primitives shared by all codecs.

Pure numpy — no Spark, no per-element Python loops. These are the
building blocks of the lightweight codecs (SURVEY.md §7.1): bit-packing
for frame-of-reference/dictionary codes, zigzag for signed deltas, and
a tiny length-prefixed section container for composite payloads.
"""

from __future__ import annotations

import struct

import numpy as np

_U32 = struct.Struct("<I")
_U64 = struct.Struct("<Q")


def min_bits(values: np.ndarray) -> int:
    """Smallest bit width that can hold every value of a uint64 array."""
    if values.size == 0:
        return 0
    mx = int(values.max())
    return mx.bit_length()


def bitpack(values: np.ndarray, width: int) -> bytes:
    """Pack a uint64 array into ``width``-bit big-endian-within-byte codes.

    Fully vectorized: build the (n, width) bit matrix with shifts
    (never the full 64-bit matrix), then ``np.packbits``. width==0 → b"".
    """
    if width == 0 or values.size == 0:
        return b""
    v = np.ascontiguousarray(values, dtype=np.uint64)
    bits = np.empty((v.size, width), dtype=np.uint8)
    for j, sh in enumerate(range(width - 1, -1, -1)):
        # column-at-a-time: avoids a (n, width) uint64 intermediate
        np.bitwise_and((v >> np.uint64(sh)).astype(np.uint8), 1, out=bits[:, j])
    return np.packbits(bits.ravel()).tobytes()


def bitunpack(data: bytes, n: int, width: int) -> np.ndarray:
    """Inverse of :func:`bitpack` — returns a uint64 array of length n.

    Multiply-accumulate over the width dimension (≤64 vectorized
    passes) instead of materializing a 64-wide matrix. A payload
    shorter than ``n`` codes raises ``ValueError``: ``np.unpackbits``
    would zero-pad it, or read uninitialized memory when it is empty.
    """
    if width == 0 or n == 0:
        return np.zeros(n, dtype=np.uint64)
    if len(data) < (n * width + 7) // 8:
        raise ValueError(
            f"bit-packed payload holds {len(data)} bytes, {n} codes of "
            f"{width} bits need {(n * width + 7) // 8}"
        )
    bits = np.unpackbits(np.frombuffer(data, dtype=np.uint8), count=n * width)
    bits = bits.reshape(n, width)
    out = np.zeros(n, dtype=np.uint64)
    for j in range(width):
        out = (out << np.uint64(1)) | bits[:, j]
    return out


def zigzag_encode(values: np.ndarray) -> np.ndarray:
    """Map int64 → uint64 so small-magnitude values get small codes."""
    v = np.ascontiguousarray(values, dtype=np.int64)
    return ((v.astype(np.uint64) << np.uint64(1)) ^ (v >> np.int64(63)).astype(np.uint64))


def zigzag_decode(values: np.ndarray) -> np.ndarray:
    v = np.ascontiguousarray(values, dtype=np.uint64)
    return ((v >> np.uint64(1)).astype(np.int64)) ^ -(v & np.uint64(1)).astype(np.int64)


def pack_sections(*sections: bytes) -> bytes:
    """Concatenate byte sections, each prefixed with a u32 length."""
    out = bytearray()
    for s in sections:
        out += _U32.pack(len(s))
        out += s
    return bytes(out)


def unpack_sections(buf: bytes, k: int) -> list[bytes]:
    """Split a :func:`pack_sections` buffer back into k sections."""
    out = []
    pos = 0
    for _ in range(k):
        (ln,) = _U32.unpack_from(buf, pos)
        pos += 4
        out.append(buf[pos : pos + ln])
        pos += ln
    return out


def u32(v: int) -> bytes:
    return _U32.pack(v)


def read_u32(buf: bytes, pos: int = 0) -> int:
    return _U32.unpack_from(buf, pos)[0]


def u64(v: int) -> bytes:
    return _U64.pack(v)


def read_u64(buf: bytes, pos: int = 0) -> int:
    return _U64.unpack_from(buf, pos)[0]
