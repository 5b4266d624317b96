"""NumPy-vectorized LEB128 varint and docID-delta codec.

Since index format 2 the postings are stored as plain int32 parquet columns
(`index.build`), so no index path calls this module: the block layout that
used it (`split_blocks`, `encode_postings_blocks`, `decode_doc_blocks`, the
position-list encoders) was deleted with format 1. The kernel stays as a
tested primitive for a compressed postings variant; ROADMAP 8(b) lists it
with the metrics that describe no code.

``varint_encode`` loops over the ≤10 byte positions of a varint;
``varint_decode`` makes a fixed number of NumPy calls whatever the byte
lengths.
"""

from __future__ import annotations

import numpy as np

_THRESHOLDS = [1 << (7 * k) for k in range(1, 10)]  # 2^7 .. 2^63
_SHIFTS = np.arange(0, 70, 7, dtype=np.uint64)  # bit shift of byte k of a varint


def varint_encode(values: np.ndarray) -> bytes:
    """LEB128-encode an array of non-negative ints (vectorized)."""
    a = np.ascontiguousarray(values, dtype=np.uint64)
    if a.size == 0:
        return b""
    # Exact byte-length per value via integer comparisons (log2 would lose
    # precision above 2^53).
    nbytes = np.ones(a.shape, dtype=np.int64)
    for t in _THRESHOLDS:
        nbytes += a >= np.uint64(t)
    ends = np.cumsum(nbytes)
    total = int(ends[-1])
    starts = ends - nbytes
    out = np.zeros(total, dtype=np.uint8)
    shifted = a.copy()
    for k in range(10):
        mask = nbytes > k  # values that have a k-th byte
        if not mask.any():
            break
        pos = starts[mask] + k
        byte = (shifted[mask] & np.uint64(0x7F)).astype(np.uint8)
        cont = (nbytes[mask] > k + 1).astype(np.uint8) << np.uint8(7)
        out[pos] = byte | cont
        shifted[mask] >>= np.uint64(7)
    return out.tobytes()


def varint_decode(buf: bytes) -> np.ndarray:
    """Decode LEB128 bytes back to a uint64 array (vectorized).

    A fixed number of NumPy calls, no loop over byte positions: a byte's
    position within its varint is its index minus its varint's start, its
    7 payload bits are shifted by 7 × that position, and one
    ``add.reduceat`` at the starts sums them (the shifted fields do not
    overlap, so the sum is exact up to 2^64 - 1). Raises ``ValueError`` on
    a truncated buffer (the last byte has the continuation bit set) and on
    a varint longer than 10 bytes."""
    b = np.frombuffer(buf, dtype=np.uint8)
    if b.size == 0:
        return np.empty(0, dtype=np.uint64)
    if b[-1] >= 0x80:
        raise ValueError("truncated varint: the last byte has the continuation bit set")
    ends = np.flatnonzero(b < 0x80)
    starts = np.empty_like(ends)
    starts[0] = 0
    starts[1:] = ends[:-1] + 1
    pos = np.arange(b.size, dtype=np.intp)
    pos -= np.repeat(starts, ends - starts + 1)
    parts = (b & 0x7F).astype(np.uint64)
    try:
        parts <<= _SHIFTS[pos]
    except IndexError:
        raise ValueError("varint longer than 10 bytes") from None
    return np.add.reduceat(parts, starts)


def delta_encode(sorted_ids: np.ndarray) -> bytes:
    """Sorted docIDs -> first raw, rest gaps, varint-packed."""
    a = np.ascontiguousarray(sorted_ids, dtype=np.uint64)
    if a.size == 0:
        return b""
    deltas = np.empty_like(a)
    deltas[0] = a[0]
    np.subtract(a[1:], a[:-1], out=deltas[1:])
    return varint_encode(deltas)


def delta_decode(buf: bytes) -> np.ndarray:
    deltas = varint_decode(buf)
    return np.cumsum(deltas, dtype=np.uint64)
