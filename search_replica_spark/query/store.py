"""Driver-side columnar block store: the pinned segment store of a reader.

A segment row is one posting block of one term. The store keeps them
term-sorted, as NumPy columns (``n``, ``block_id``, ``first_doc_idx``,
``last_doc_idx``, ``max_score`` and, for generational readers,
``doc_off``) plus one contiguous buffer with an offsets array per binary
stream (``docs_bin``, ``tfs_bin``, and ``npos_bin``/``pos_bin`` when
positions are pinned). Blocks stay compressed. A term maps to its row
range, so a lookup is a dict probe and a slice: no per-row Python objects
and no DataFrame on the request path.

The store is built from ``DataFrame.toArrow()``: after the sort, the Arrow
binary columns' offsets and data buffers are used as they are.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

STREAMS = ("docs_bin", "tfs_bin", "npos_bin", "pos_bin")


def _stream(col: pa.ChunkedArray) -> tuple[np.ndarray, memoryview]:
    """(offsets int64[rows + 1], data) of a single-chunk binary column."""
    if col.num_chunks == 0:
        return np.zeros(1, np.int64), memoryview(b"")
    arr = col.chunk(0)
    _validity, offsets, data = arr.buffers()
    width = 8 if pa.types.is_large_binary(arr.type) else 4
    offs = np.frombuffer(
        offsets, dtype=np.int64 if width == 8 else np.int32,
        count=len(arr) + 1, offset=arr.offset * width,
    ).astype(np.int64)
    return offs, memoryview(data) if data is not None else memoryview(b"")


class BlockStore:
    """Term-sorted block columns, compressed streams and a term → row map.

    ``table`` must be sorted by term, then by block order within a term.
    ``positions`` records whether the position streams were asked for, so
    a later request for them can tell that the store must be rebuilt.
    Columns other than ``term`` and the streams become int64/float64
    arrays in ``cols``, which a reader may rewrite before serving (see
    ``MultiGenReader``)."""

    def __init__(self, table: pa.Table, positions: bool):
        table = table.combine_chunks()
        self.positions = positions
        self.rows = table.num_rows
        terms = table.column("term")
        if self.rows:
            runs = pc.run_end_encode(terms.chunk(0))
            ends = runs.run_ends.to_numpy().astype(np.int64)
            names = runs.values.to_pylist()
        else:
            ends, names = np.empty(0, np.int64), []
        self.term_starts = np.concatenate(([0], ends))[:-1].astype(np.int64)
        self.term_ends = ends
        self.index = dict(zip(names, zip(self.term_starts.tolist(), ends.tolist())))
        self.cols: dict[str, np.ndarray] = {}
        self.streams: dict[str, tuple[np.ndarray, memoryview]] = {}
        for name in table.column_names:
            col = table.column(name)
            if name in STREAMS:
                self.streams[name] = _stream(col)
            elif name != "term":
                dtype = np.float64 if pa.types.is_floating(col.type) else np.int64
                self.cols[name] = col.to_numpy().astype(dtype, copy=False)

    def select(self, terms) -> Blocks:
        """The rows of ``terms`` present in the store, in term order."""
        spans = sorted((t, *self.index[t]) for t in set(terms) if t in self.index)
        return Blocks(self, spans)


class Blocks:
    """A slice of a ``BlockStore``: the row ranges of some terms.

    ``len()`` is the block count. ``blk[col]`` is a NumPy column for a
    numeric column and the list of per-block buffers for a stream;
    ``by_term()`` yields each term's contiguous slice."""

    def __init__(self, store: BlockStore, spans: list[tuple[str, int, int]]):
        self.store = store
        self.spans = spans

    def __len__(self) -> int:
        return sum(hi - lo for _t, lo, hi in self.spans)

    def __contains__(self, col: str) -> bool:
        return col in self.store.cols or col in self.store.streams

    def __getitem__(self, col: str):
        if col in self.store.streams:
            offs, data = self.store.streams[col]
            return [
                data[a:b]
                for _t, lo, hi in self.spans
                for a, b in zip(offs[lo:hi].tolist(), offs[lo + 1 : hi + 1].tolist())
            ]
        arr = self.store.cols[col]
        parts = [arr[lo:hi] for _t, lo, hi in self.spans]
        return parts[0] if len(parts) == 1 else np.concatenate([arr[:0], *parts])

    def joined(self, col: str) -> bytes | memoryview:
        """One stream's bytes over every row, in row order (a term's
        blocks are contiguous, so one span is a zero-copy view)."""
        offs, data = self.store.streams[col]
        parts = [data[offs[lo] : offs[hi]] for _t, lo, hi in self.spans]
        return parts[0] if len(parts) == 1 else b"".join(parts)

    def by_term(self):
        for span in self.spans:
            yield span[0], Blocks(self.store, [span])
