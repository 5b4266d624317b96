"""NumPy-vectorized varint codec + posting-block layout.

The reference ships uncompressed NDJSON to Elasticsearch and lets Lucene do
posting compression (reference: search/bulk.go buffers raw JSON bytes,
search/client.go:77-139 POSTs them). Our engine owns the index, so we own
the codec: docID **deltas** + LEB128 varints, fixed-size blocks with
per-block max-score metadata for block-max WAND (BASELINE.json#north_star).

All encode/decode paths are vectorized over NumPy arrays — no per-element
Python loops over postings. The encoder loops over the ≤10 byte positions
of a varint; ``varint_decode`` makes a fixed number of NumPy calls whatever
the byte lengths.
"""

from __future__ import annotations

import numpy as np

BLOCK_SIZE = 128  # docs per block (Lucene uses 128-doc blocks for the same reason)

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


def encode_postings_blocks(
    doc_idx: np.ndarray,
    tf: np.ndarray,
    score: np.ndarray,
    block_size: int = BLOCK_SIZE,
    dl: np.ndarray | None = None,
):
    """Encode a sorted posting list into blocks with ONE varint pass.

    Equivalent to per-block delta_encode/varint_encode (tested identical),
    but vectorized across the whole list: per-value byte lengths are computed
    once, so block boundaries become byte-offset slices instead of per-block
    NumPy calls. Returns (n, first_doc, last_doc, max_score, docs_bin, tfs_bin)
    arrays/lists, one element per block; with ``dl`` (per-posting doc length,
    carried into segments so BM25 scoring never joins the docs table —
    Lucene stores norms the same way) each tuple gains a trailing dls_bin.
    """
    n = doc_idx.shape[0]
    if n == 0:
        return []
    a = doc_idx.astype(np.uint64)
    starts = np.arange(0, n, block_size)
    ends = np.minimum(starts + block_size, n)
    # deltas with a reset (raw value) at every block start
    deltas = np.empty(n, dtype=np.uint64)
    deltas[0] = a[0]
    np.subtract(a[1:], a[:-1], out=deltas[1:])
    deltas[starts] = a[starts]

    def _byte_lengths(v: np.ndarray) -> np.ndarray:
        nb = np.ones(v.shape, dtype=np.int64)
        for t in _THRESHOLDS:
            nb += v >= np.uint64(t)
        return nb

    dbuf = varint_encode(deltas)
    dlen = _byte_lengths(deltas)
    doff = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(dlen, out=doff[1:])

    tfv = tf.astype(np.uint64)
    tbuf = varint_encode(tfv)
    tlen = _byte_lengths(tfv)
    toff = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(tlen, out=toff[1:])

    if dl is not None:
        dlv = dl.astype(np.uint64)
        lbuf = varint_encode(dlv)
        llen = _byte_lengths(dlv)
        loff = np.zeros(n + 1, dtype=np.int64)
        np.cumsum(llen, out=loff[1:])

    max_scores = np.maximum.reduceat(score, starts)
    out = []
    for i, (s, e) in enumerate(zip(starts, ends)):
        row = (
            int(e - s),
            int(a[s]),
            int(a[e - 1]),
            float(max_scores[i]),
            dbuf[doff[s] : doff[e]],
            tbuf[toff[s] : toff[e]],
        )
        if dl is not None:
            row = (*row, lbuf[loff[s] : loff[e]])
        out.append(row)
    return out


def decode_doc_blocks(docs_bins, counts: np.ndarray, offs: np.ndarray | None = None) -> np.ndarray:
    """Decode MANY delta-encoded doc blocks in ONE vectorized pass.

    Equivalent to ``concatenate([delta_decode(b) + o for b, o in zip(...)])``
    (tested identical) but with a single varint decode over the joined
    buffers and one cumsum with per-block resets — a 1000-block posting
    list costs ~4 NumPy calls instead of ~2000. ``counts`` is the per-block
    posting count (the segment `n` column); ``offs`` the per-block doc_idx
    offset (generational slot bases)."""
    counts = np.ascontiguousarray(counts, dtype=np.int64)
    total = int(counts.sum())
    if total == 0:
        return np.empty(0, dtype=np.int64)
    deltas = varint_decode(b"".join(docs_bins)).astype(np.int64)
    ends = np.cumsum(counts)
    starts = ends - counts
    cs = np.cumsum(deltas)
    # each block's first delta is its absolute first doc: subtract the carry
    base = cs[starts] - deltas[starts]
    out = cs - np.repeat(base, counts)
    if offs is not None:
        out += np.repeat(np.ascontiguousarray(offs, dtype=np.int64), counts)
    return out


def split_blocks(doc_idx: np.ndarray, tf: np.ndarray, block_size: int = BLOCK_SIZE):
    """Yield (block_id, doc_idx_block, tf_block) chunks of a sorted posting list."""
    n = doc_idx.shape[0]
    for block_id, start in enumerate(range(0, n, block_size)):
        end = min(start + block_size, n)
        yield block_id, doc_idx[start:end], tf[start:end]


def encode_position_lists(pos_lists) -> tuple[bytes, bytes]:
    """Per-posting token-position lists → (npos_bin, pos_bin).

    npos_bin: varint count per posting. pos_bin: positions delta-encoded
    WITHIN each posting (first absolute, rest gaps), all postings
    concatenated — the Lucene .prx layout, vectorized.
    """
    counts = np.array([len(p) for p in pos_lists], dtype=np.int64)
    if counts.sum() == 0:
        return varint_encode(counts.astype(np.uint64)), b""
    flat = np.concatenate([np.asarray(p, dtype=np.uint64) for p in pos_lists if len(p)])
    deltas = flat.copy()
    deltas[1:] -= flat[:-1]
    starts = np.cumsum(counts) - counts
    nz = starts[counts > 0]
    deltas[nz] = flat[nz]
    return varint_encode(counts.astype(np.uint64)), varint_encode(deltas)


def decode_position_flat(npos_bin: bytes, pos_bin: bytes) -> tuple[np.ndarray, np.ndarray]:
    """Inverse of encode_position_lists without splitting: returns
    (counts, flat_abs_positions) — positions of posting i occupy the slice
    ``flat[cumsum(counts)[i-1] : cumsum(counts)[i]]``. Vectorized cumsum
    with per-posting resets; the flat form is what vectorized phrase
    scoring consumes (no per-posting array objects)."""
    counts = varint_decode(npos_bin).astype(np.int64)
    if counts.sum() == 0:
        return counts, np.empty(0, dtype=np.int64)
    deltas = varint_decode(pos_bin).astype(np.int64)
    ends = np.cumsum(counts)
    starts = ends - counts
    cs = np.cumsum(deltas)
    base = np.zeros(len(counts), dtype=np.int64)
    nz = counts > 0
    base[nz] = cs[starts[nz]] - deltas[starts[nz]]
    abs_pos = cs - np.repeat(base, counts)
    return counts, abs_pos


def decode_position_lists(npos_bin: bytes, pos_bin: bytes) -> list[np.ndarray]:
    """Inverse of encode_position_lists: one absolute-position array per
    posting (vectorized cumsum with per-posting resets)."""
    counts, abs_pos = decode_position_flat(npos_bin, pos_bin)
    if abs_pos.size == 0:
        return [np.empty(0, dtype=np.int64) for _ in counts]
    return np.split(abs_pos, np.cumsum(counts)[:-1])
