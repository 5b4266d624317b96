"""Driver-side posting store: the pinned postings of a reader.

Format-2 postings are plain columns, ``term_id, doc_idx, tf`` (and
``positions``), one row per posting, sorted by (term_id, doc_idx); the
dictionary gives each term its row range ``[start, start + df)``. A
``PostingStore`` holds one ``Postings`` part per generation: the doc slots
and tfs as flat int32 arrays, the flat token positions when they are
pinned, and a term → row range map. A term's postings are its slice of
each part, concatenated in part (generation) order, so a lookup is a dict
probe and a slice: no decode, no per-row Python objects and no DataFrame
on the request path.

Every part is read from the index parquet in the driver with no Spark
job (``read_postings``): a pinned reader reads each generation whole; an
unpinned request reads its terms' dictionary rows, then only the postings
row groups whose term_id statistics can hold their ids
(``Postings.from_rows``).
"""

from __future__ import annotations

import bisect
import functools
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from search_replica_spark.index.manifest import part_files


def read_table(table_dir: str, columns, filters=()) -> pa.Table:
    """``columns`` of the parquet table at ``table_dir``, read in the
    driver with no Spark job: one ``ParquetFile`` per part file, in name
    order (``part_files``). A column a file lacks is left out.

    ``filters`` is a conjunction of ``(column, op, value)`` conditions,
    ``op`` one of ``>=``, ``<`` and ``in``. A row group whose min/max
    statistics rule a condition out is never read; the rows of the others
    are masked exactly, and the filter columns are then dropped. An
    ``in`` value list may be a NumPy array.

    Not ``pq.read_table(..., filters=...)``: that goes through
    ``pyarrow.dataset``, whose scan left the serving driver's peak RSS
    14–24 MB above this helper's on the benchmark workloads, past the
    benchmark's 10% bound."""
    parts, schema, filters = [], None, _sorted_in(filters)
    for path in part_files(table_dir):
        pf = pq.ParquetFile(path)
        cols = [c for c in columns if c in pf.schema_arrow.names]
        schema = pa.schema([pf.schema_arrow.field(c) for c in cols])
        meta = pf.metadata
        groups = [i for i in range(meta.num_row_groups)
                  if _may_match(meta.row_group(i), filters)]
        if not groups:
            continue
        fcols = [c for c in dict.fromkeys(c for c, _op, _v in filters) if c not in cols]
        t = pf.read_row_groups(groups, columns=cols + fcols, use_threads=False)
        if filters:
            t = t.filter(_mask(t, filters))
        parts.append(t.select(cols).replace_schema_metadata())
    if schema is None:
        raise FileNotFoundError(f"no parquet part files in {table_dir}")
    return pa.concat_tables(parts) if parts else schema.empty_table()


_OPS = {
    ">=": pc.greater_equal,
    "<": pc.less,
    "in": lambda col, v: pc.is_in(col, value_set=pa.array(v, type=col.type)),
}


def _sorted_in(filters) -> tuple:
    """``filters`` with each ``in`` value list sorted and deduplicated
    once, so that ``_may_match`` bisects it for every row group."""
    return tuple(
        (c, op, (np.unique(v) if isinstance(v, np.ndarray) else sorted(set(v)))
         if op == "in" else v)
        for c, op, v in filters
    )


def _mask(t: pa.Table, filters):
    return functools.reduce(pc.and_, (_OPS[op](t[c], v) for c, op, v in filters))


def _may_match(rg, filters) -> bool:
    """False when row group ``rg``'s min/max statistics show that no row
    meets every condition of ``filters``. A filter column is found by its
    leaf path, not its field position: a nested column before it (stored
    _source's ``inlined`` array) has several leaves. A row group without
    statistics for the column is kept. An ``in`` value list must be
    sorted (``_sorted_in``)."""
    leaves = {rg.column(j).path_in_schema: j for j in range(rg.num_columns)}
    for col, op, v in filters:
        st = rg.column(leaves[col]).statistics
        if st is None or not st.has_min_max:
            continue
        if op == "in":
            i = bisect.bisect_left(v, st.min)  # the first value >= min
            if i == len(v) or v[i] > st.max:
                return False
        elif (op == ">=" and st.max < v) or (op == "<" and st.min >= v):
            return False
    return True


class Postings:
    """One generation's postings in a reader's slot space: ``docs`` and
    ``tfs`` int32 arrays, ``pos`` the flat positions (None when not
    pinned; posting i owns ``tfs[i]`` of them), and each term's row range
    ``[starts[i], ends[i])``, i = ``index[term]``."""

    __slots__ = ("index", "starts", "ends", "docs", "tfs", "pos", "pos_offs")

    def __init__(self, terms, starts: np.ndarray, ends: np.ndarray, docs: np.ndarray,
                 tfs: np.ndarray, pos: np.ndarray | None):
        self.index = dict(zip(terms, range(len(starts))))
        self.starts, self.ends = starts.tolist(), ends.tolist()
        self.docs, self.tfs, self.pos = docs, tfs, pos
        self.pos_offs = None
        if pos is not None:
            self.pos_offs = np.zeros(tfs.size + 1, np.int64)
            np.cumsum(tfs, out=self.pos_offs[1:])

    def span(self, term: str) -> tuple[int, int] | None:
        i = self.index.get(term)
        return None if i is None else (self.starts[i], self.ends[i])

    @classmethod
    def from_rows(cls, terms_by_id, tid: np.ndarray, docs: np.ndarray,
                  tfs: np.ndarray, pos: np.ndarray | None, offset: int) -> Postings:
        """A part from rows sorted by (term_id, doc_idx): ``terms_by_id``
        maps a term_id to its term, ``offset`` turns doc_idx into slots."""
        firsts, ends = term_runs(tid)
        docs = docs.astype(np.int32, copy=False)
        return cls([terms_by_id[i] for i in tid[firsts].tolist()], firsts, ends,
                   docs + np.int32(offset) if offset else docs,
                   tfs.astype(np.int32, copy=False), pos)


def term_runs(tid: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(first row, end row) of each run of equal values in ``tid``."""
    if not tid.size:
        return np.empty(0, np.int64), np.empty(0, np.int64)
    firsts = np.flatnonzero(np.r_[True, tid[1:] != tid[:-1]])
    return firsts, np.append(firsts[1:], tid.size)


def read_postings(index_dir: str, offset: int, positions: bool,
                  terms: list[str] | None = None) -> Postings:
    """One generation's postings read in the driver (no Spark job), as
    slots ``doc_idx + offset``. With ``terms`` only the rows of those
    terms are kept: each row group is masked as it is read (row groups
    whose term_id statistics rule it out are skipped), so resident memory
    is O(the kept rows) plus one row group; the term ranges are then
    recomputed from the kept rows. Without, doc_idx and tf go row group
    by row group into preallocated int32 arrays, and each term's range is
    ``[start, start + df)`` from the dictionary."""
    files = [pq.ParquetFile(p) for p in part_files(os.path.join(index_dir, "postings"))]
    cols = ["doc_idx", "tf"] + (["positions"] if positions else [])
    if terms is None:
        d = read_table(os.path.join(index_dir, "dict"), ["term", "df", "start"])
        total = sum(pf.metadata.num_rows for pf in files)
        docs, tfs, pos, at = np.empty(total, np.int32), np.empty(total, np.int32), [], 0
        for pf in files:
            for i in range(pf.num_row_groups):
                t = pf.read_row_group(i, columns=cols, use_threads=False)
                n = t.num_rows
                docs[at:at + n] = t.column("doc_idx").to_numpy()
                tfs[at:at + n] = t.column("tf").to_numpy()
                if positions:
                    pos.append(pc.list_flatten(t.column("positions")).to_numpy())
                at += n
        if offset:
            docs += np.int32(offset)
        starts = d["start"].to_numpy()
        return Postings(_strings(d["term"]), starts, starts + d["df"].to_numpy(),
                        docs, tfs, _cat(pos) if positions else None)
    d = read_table(os.path.join(index_dir, "dict"), ["term", "term_id"],
                   (("term", "in", sorted(set(terms))),))
    ids = d["term_id"].to_numpy().tolist()
    terms_by_id = dict(zip(ids, _strings(d["term"])))
    flt = _sorted_in((("term_id", "in", ids),))
    kept: dict[str, list] = {c: [] for c in ["term_id", *cols]}
    for pf in files:
        for i in range(pf.num_row_groups):
            if not _may_match(pf.metadata.row_group(i), flt):
                continue
            t = pf.read_row_group(i, columns=["term_id", *cols], use_threads=False)
            t = t.filter(_mask(t, flt))
            for c in kept:
                col = t.column(c)
                kept[c].append(pc.list_flatten(col).to_numpy() if c == "positions"
                               else col.to_numpy())
    return Postings.from_rows(
        terms_by_id, _cat(kept["term_id"]), _cat(kept["doc_idx"]), _cat(kept["tf"]),
        _cat(kept["positions"]) if positions else None, offset,
    )


class PostingStore:
    """The postings a reader serves from: one ``Postings`` part per
    generation, in generation (slot) order. ``positions`` records whether
    the positions were asked for, so a later request for them can tell
    that the store must be rebuilt."""

    def __init__(self, parts: list[Postings], positions: bool):
        self.parts = parts
        self.positions = positions

    @property
    def rows(self) -> int:
        return sum(p.docs.size for p in self.parts)

    def select(self, terms, positions: bool = False) -> dict[str, tuple]:
        """term → (slots, tfs), or (slots, tfs, flat positions) with
        ``positions``, for the terms present, in term order. A term held by
        one part is a zero-copy slice of it; otherwise its slices are
        concatenated in part order, which keeps its slots ascending."""
        out = {}
        for t in sorted(set(terms)):
            hits = [(p, *span) for p in self.parts if (span := p.span(t)) is not None]
            if not hits:
                continue
            docs = _cat([p.docs[s:e] for p, s, e in hits])
            tfs = _cat([p.tfs[s:e] for p, s, e in hits])
            if positions:
                flat = _cat([p.pos[p.pos_offs[s]:p.pos_offs[e]] for p, s, e in hits])
                out[t] = (docs, tfs, flat)
            else:
                out[t] = (docs, tfs)
        return out


def _strings(col: pa.ChunkedArray) -> np.ndarray:
    """A string column as an object array (an order of magnitude faster
    than ``to_pylist()``, which dominated a pin's time)."""
    return col.to_numpy(zero_copy_only=False)


def _cat(arrays: list[np.ndarray]) -> np.ndarray:
    if not arrays:
        return np.empty(0, np.int32)
    return arrays[0] if len(arrays) == 1 else np.concatenate(arrays)
