"""BM25 top-k query execution over the postings store.

Implements the search semantics the reference delegates to Elasticsearch
(reference: demo/README.md:18-42 queries a live ES; demo/mapping.json
configures it). An index is a list of generations (Lucene's segments):
a plain ``build_index`` directory is one generation with no tombstones,
a CDC-maintained one lists its generations in generations.json. One
reader, ``IndexReader``, serves both: summed stats, slots over the
generations, and liveDocs (a slot is dead if its doc_id appears again in
a later generation or a strictly later tombstone covers it). One top-k
computation, in two execution forms that return the same ranking:

  - ``TermAtATimeScorer`` / ``bool_topk`` — the in-driver NumPy scorer over
    fetched postings (slices of flat int32 columns, no decode), a
    ``bincount`` accumulate over the touched docs, the reader's liveDocs
    and an array top-k. ``/_search``, the CDC path and the CLI's default
    ``query`` all score here.
  - ``bm25_topk_spark`` — the fully distributed plan, plain Spark SQL over
    the generations: ``term_id IN (...)`` pushed to each postings parquet
    (sorted by term_id, so only the query terms' row groups are read),
    joined to a broadcast idf table and to docs(doc_idx, doc_len), summed
    per slot in term order, joined to the live docs (``live_docs``),
    TakeOrdered top-k.

Scores are float64 with idf from Python ``math.log``, summing per-doc
contributions in sorted-term order in both forms, so scores agree with
the oracle and do not change from run to run.
"""

from __future__ import annotations

import functools
import heapq
import math
import os

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from search_replica_spark import B, K1
from search_replica_spark.analysis import tokenize_text
from search_replica_spark.index.manifest import (
    _gen_stats,
    fold_tombstones,
    read_generations,
    slot_bases,
)
from search_replica_spark.query.store import (
    PostingStore,
    _strings,
    read_postings,
    read_table,
)

# The deleted block codec's decode entry points, kept bound as names that
# run no code because perfbench/spans.py looks them up: format-2 postings
# need no decode (ROADMAP 8(b)).
decode_doc_blocks = varint_decode = None


def prefix_successor(prefix: str) -> str | None:
    """The least string above every term that starts with ``prefix``, so
    that those terms are exactly ``prefix <= term < successor``: the
    prefix with its last codepoint incremented (skipping the surrogate
    gap, carrying past U+10FFFF), or None when no such bound exists. A
    ``prefix + '\\uffff'`` upper bound is WRONG: supplementary-plane
    codepoints (4-byte UTF-8, lead F0-F4) sort ABOVE U+FFFF in codepoint
    and UTF-8 byte order alike, so keyword terms containing
    emoji/CJK-extension chars would silently escape the range."""
    p = prefix
    while p and ord(p[-1]) >= 0x10FFFF:
        p = p[:-1]  # carry: no codepoint above U+10FFFF exists
    if not p:
        return None
    nxt = ord(p[-1]) + 1
    if 0xD800 <= nxt <= 0xDFFF:
        nxt = 0xE000  # surrogate range holds no valid terms
    return p[:-1] + chr(nxt)


def dead_slots(doc_ids: np.ndarray, gens: np.ndarray,
               tombstones: dict[int, int]) -> np.ndarray:
    """The liveness rule in NumPy (``live_docs`` is its Spark form): a
    bool mask over slots, given each slot's doc_id and generation, that
    marks the dead ones. A slot is dead if its doc_id appears again in a
    later generation (last wins), or if a tombstone from a strictly later
    generation covers it (``manifest.fold_tombstones``)."""
    order = np.lexsort((gens, doc_ids))  # by doc_id, then generation
    ids = doc_ids[order]
    dead = np.zeros(doc_ids.size, dtype=bool)
    dead[order[:-1][ids[:-1] == ids[1:]]] = True  # all but a doc_id's newest
    if tombstones:
        tid = np.fromiter(tombstones, np.int64, len(tombstones))
        tgen = np.fromiter(tombstones.values(), np.int64, len(tombstones))
        o = np.argsort(tid)
        tid, tgen = tid[o], tgen[o]
        at = np.minimum(np.searchsorted(tid, doc_ids), tid.size - 1)
        dead |= (tid[at] == doc_ids) & (tgen[at] > gens)
    return dead


class LiveDocs:
    """Sparse Lucene-liveDocs: stores only the DEAD slots (sorted int64
    array), so a reader over a generational index holds O(superseded +
    tombstoned) driver state instead of an O(corpus) bitmap: this scales
    with churn, not with the corpus. Supports exactly the mask operations
    the scorers use: fancy-index with an int slot array (vectorized
    searchsorted membership), scalar index, ``sum()``
    (live count), and ``astype(bool)`` for the rare dense-mask consumer."""

    __slots__ = ("n", "dead")

    def __init__(self, n: int, dead):
        self.n = int(n)
        self.dead = np.unique(np.asarray(dead, dtype=np.int64))

    def __getitem__(self, idx):
        if isinstance(idx, (int, np.integer)):
            i = int(np.searchsorted(self.dead, idx))
            return not (i < self.dead.size and self.dead[i] == idx)
        idx = np.asarray(idx)
        if self.dead.size == 0:
            return np.ones(idx.shape, dtype=bool)
        pos = np.minimum(np.searchsorted(self.dead, idx), self.dead.size - 1)
        return self.dead[pos] != idx

    def sum(self) -> int:
        return self.n - int(self.dead.size)

    def astype(self, dtype):
        m = np.ones(self.n, dtype=bool)
        m[self.dead] = False
        return m.astype(dtype)

    def drop_dead(self, arr):
        """``arr`` (slot-indexed, len n) without the dead slots — the
        sparse form of ``arr[self.astype(bool)]``: slice-gather around the
        sorted dead array, O(dead) segments, NO dense O(n_docs) mask
        allocation (the r4 verdict's match_all finding)."""
        if self.dead.size == 0:
            return arr
        cuts = np.stack([self.dead, self.dead + 1], axis=1).ravel()
        return np.concatenate(np.split(arr, cuts)[::2])

    def __len__(self) -> int:
        return self.n


def _field_stats(stats: list[dict]) -> dict | None:
    """The per-field stats of the generations whose stats.json are
    ``stats``: docCounts and token sums add up as INTEGERS, with one final
    float division — bit-identical to the avg a single build over the
    same docs computes (recombining n*avg floats would round twice).
    Stats without sum_dl fall back to n*avg. None unless every
    generation has per-field stats."""
    acc: dict[str, list] = {}
    for st in stats:
        if not st.get("field_stats"):
            return None
        for fld, fs in st["field_stats"].items():
            n, total = acc.get(fld, (0, 0))
            gn, gs = int(fs["n"]), fs.get("sum_dl")
            gs = int(gs) if gs is not None else gn * float(fs["avg_dl"])
            acc[fld] = [n + gn, total + gs]
    return {fld: {"n": n, "avg_dl": (total / n) if n else 0.0}
            for fld, (n, total) in acc.items()} or None


class IndexReader:
    """Driver-side handle on an index: stats, doc arrays, liveDocs and the
    postings fetch over its generations.

    A generational index is read as its generations.json lists it; a
    plain ``build_index`` directory is one generation with no tombstones
    (``manifest.read_generations``), so one reader serves both, as one
    Lucene ``DirectoryReader`` serves any number of segments. Each live
    generation's local doc_idx space maps onto disjoint slots: slot =
    doc_idx + the generation's base, bases following generation order.
    Corpus statistics sum over every generation (superseded and
    tombstoned versions count until a merge, as in Lucene); k1 and b are
    the index's own, from the generations' stats.json. Every read is in
    the driver: ``spark`` is unused, and stays first because
    ``perfbench/driver.py`` constructs ``IndexReader(spark, index_dir)``."""

    def __init__(self, spark: SparkSession | None, index_dir: str):
        self.index_dir = index_dir
        self.gens = read_generations(index_dir)
        self.live_gens = [g for g in self.gens if g["dir"]]
        stats = [_gen_stats(index_dir, g) for g in self.live_gens]
        self.positions_stored = any(st.get("store_positions", False) for st in stats)
        self.k1 = stats[0]["k1"] if stats else K1
        self.b = stats[0]["b"] if stats else B
        self.n_docs = int(sum(g["n_docs"] for g in self.gens))
        total_tokens = sum(g["total_tokens"] for g in self.gens)
        self.avg_dl = total_tokens / self.n_docs if self.n_docs else 0.0
        self.bases = slot_bases(self.gens)
        self._field_stats = _field_stats(stats)
        self._doc_len: np.ndarray | None = None
        self._doc_ids: np.ndarray | None = None
        self._pinned: PostingStore | None = None
        self._live_cache: LiveDocs | None = None

    # --- doc store (slot-ordered arrays, loaded once) ---
    def _doc_tables(self, cols: list[str], slots: np.ndarray | None = None):
        """Each live generation's docs rows as (table of ``doc_idx`` and
        the ``cols`` it holds, its slot base: slot = doc_idx + base), read
        from the docs parquet in the driver (no Spark job): every row, or
        only those of ``slots``, reading only the row groups whose doc_idx
        statistics can hold them."""
        for g in self.live_gens:
            base, flt = self.bases[g["gen"]], ()
            if slots is not None:
                local = slots - base
                flt = (("doc_idx", "in", local[(local >= 0) & (local < int(g["n_docs"]))]),)
            yield read_table(os.path.join(g["dir"], "docs"), ["doc_idx", *cols], flt), base

    def _doc_columns(self, cols: list[str]) -> dict[str, np.ndarray]:
        """``cols`` of the docs table, in slot order (``_doc_tables``)."""
        slots, vals = [np.empty(0, np.int64)], {c: [np.empty(0, np.int64)] for c in cols}
        for t, off in self._doc_tables(cols):
            slots.append(t["doc_idx"].to_numpy() + off)
            for c in cols:
                vals[c].append(t[c].to_numpy())
        order = np.argsort(np.concatenate(slots), kind="stable")
        return {c: np.concatenate(v)[order] for c, v in vals.items()}

    def stored_fields(self, ids, cols: list[str]) -> pa.Table:
        """The stored ``cols`` of this reader's live docs among ``ids``:
        one row per doc, ``_rid`` (its id) and the ``cols`` some
        generation's docs store holds (null where a generation lacks one).
        The ids are resolved in this reader's id space (``doc_arrays``,
        then its liveDocs), so a reader that remaps ids reads the right
        rows and a superseded or tombstoned version is never read. Each
        generation reads only its rows' doc_idx (``_doc_tables``), in the
        driver with no Spark job: the fetch phase of a request."""
        _dl, arr = self.doc_arrays()
        slots = np.flatnonzero(np.isin(arr, np.asarray(ids, dtype=np.int64)))
        if self._live is not None:
            slots = slots[self._live[slots]]
        parts = [
            t.add_column(0, "_rid", pa.array(arr[t["doc_idx"].to_numpy() + off]))
            .drop_columns(["doc_idx"])
            for t, off in self._doc_tables(cols, slots)
        ]
        if not parts:  # no generation holds documents
            return pa.table({"_rid": pa.array([], pa.int64())})
        return pa.concat_tables(parts, promote_options="default")

    def doc_arrays(self) -> tuple[np.ndarray, np.ndarray]:
        if self._doc_len is None:
            c = self._doc_columns(["doc_id", "doc_len"])
            self._doc_len = c["doc_len"].astype(np.float64)
            self._doc_ids = c["doc_id"].astype(np.int64)
        return self._doc_len, self._doc_ids

    def idf(self, df: int) -> float:
        return math.log(1.0 + (self.n_docs - df + 0.5) / (df + 0.5))

    # --- liveDocs ---
    @property
    def _live(self) -> LiveDocs | None:
        """The slots' liveDocs, or None when no slot is dead (a plain or
        tombstone-free single-generation index), so a scorer applies no
        mask at all. Computed on first use (``_live_docs``)."""
        live = self._live_docs()
        return live if live.dead.size else None

    def _live_docs(self) -> LiveDocs:
        """Sparse liveDocs over this reader's slots, computed once in
        NumPy with no Spark job (``dead_slots``). Only the live
        generations' ``doc_idx, doc_id`` columns are read, never the doc
        arrays, and nothing at all when one live generation has no later
        tombstone."""
        if self._live_cache is None:
            n = sum(int(g["n_docs"]) for g in self.live_gens)
            tombs = fold_tombstones(self.gens)
            dead = np.empty(0, np.int64)
            first = self.live_gens[0]["gen"] if self.live_gens else 0
            if len(self.live_gens) > 1 or any(t > first for t in tombs.values()):
                ids, gens, slots = [], [], []
                for g in self.live_gens:
                    t = read_table(os.path.join(g["dir"], "docs"), ["doc_idx", "doc_id"])
                    ids.append(t["doc_id"].to_numpy())
                    gens.append(np.full(t.num_rows, int(g["gen"]), np.int64))
                    slots.append(t["doc_idx"].to_numpy() + self.bases[g["gen"]])
                slots = np.concatenate(slots)
                dead = slots[dead_slots(np.concatenate(ids), np.concatenate(gens), tombs)]
            self._live_cache = LiveDocs(n, dead)
        return self._live_cache

    def __len__(self) -> int:  # docs currently visible
        return self._live_docs().sum()

    def score(self, query: str, k: int = 10, mode: str = "or") -> list[tuple[int, float]]:
        """Top-k of a match query under this reader's liveDocs."""
        return TermAtATimeScorer(self).score(query, k, mode=mode, live=self._live)

    # --- per-field norms surface (fielded_norms_topk) ---
    def field_stats(self) -> dict | None:
        """{field: {"n": docCount, "avg_dl": float}} for field_analyzers
        builds (round 4+); None otherwise (``_field_stats``)."""
        return self._field_stats

    def field_dl_arrays(self, fields: list[str]) -> dict[str, np.ndarray]:
        """Per-slot per-field doc lengths, slot for slot with doc_arrays()."""
        c = self._doc_columns([f"dl_{f}" for f in fields])
        return {f: c[f"dl_{f}"].astype(np.float64) for f in fields}

    def pin_driver(self, positions: bool = False):
        """Serving mode: read the index's postings into driver memory as a ``PostingStore`` — per generation, doc slots and tfs as
        flat int32 arrays and a term → row range map — from the postings
        parquet in the driver with no Spark job (``store.read_postings``).
        A request is then a dict probe and a slice, never a Spark job or a
        decode, as ES holds its segments in RAM/page cache. ``positions``: also pin the flat token
        positions (phrase serving). A ``positions=True`` call on a store
        pinned without them re-pins with them — otherwise every phrase
        request would re-read its terms' positions."""
        positions = positions and self.positions_stored
        if self._pinned is None or (positions and not self._pinned.positions):
            self._pinned = None  # one pinned copy at a time
            self._pinned = self._read_store(positions)
        return self

    def _read_store(self, positions: bool, terms: list[str] | None = None) -> PostingStore:
        """A ``PostingStore`` of this reader's generations read in the
        driver (``store.read_postings``): every posting, or only the rows
        of ``terms``."""
        positions = positions and self.positions_stored
        return PostingStore(
            [read_postings(g["dir"], self.bases[g["gen"]], positions, terms)
             for g in self.live_gens],
            positions,
        )

    def fetch_blocks(self, terms: list[str], positions: bool = False) -> dict[str, tuple]:
        """The postings of ``terms`` in this reader's slot space: term →
        (slots, tfs), or (slots, tfs, flat positions) with ``positions``,
        for the terms present, in term order (``PostingStore.select``).
        Served from the pinned store; an unpinned reader reads the terms'
        dictionary rows and then only the postings row groups that can
        hold their term ids, in the driver with no Spark job. ``len()`` of
        the result is the number of terms found."""
        if self._pinned is not None and (not positions or self._pinned.positions):
            return self._pinned.select(terms, positions)
        return self._read_store(positions, terms).select(terms, positions)

    def fetch_postings(self, terms: list[str]) -> dict[str, tuple[np.ndarray, np.ndarray]]:
        """term → (slots, tfs), slot-ascending (see ``fetch_blocks``)."""
        return self.fetch_blocks(terms)

    def expand_prefix(self, prefix: str, max_expansions: int | None = 50) -> list[str]:
        """The terms starting with ``prefix`` over the live generations'
        dictionaries, in term order, capped at ``max_expansions`` (ES's
        cap, default 50): ``expand_range`` from the prefix to its
        successor (``prefix_successor``)."""
        return self.expand_range(prefix, prefix_successor(prefix), max_expansions)

    def expand_range(self, lo: str, hi: str | None,
                     max_expansions: int | None = None) -> list[str]:
        """Term-dictionary range seek: the terms in ``[lo, hi)`` (no upper
        bound when ``hi`` is None) over the live generations'
        dictionaries, merged, deduplicated and sorted in term order, then
        capped at ``max_expansions``. Each generation's ``dict/term`` is
        read in the driver with no Spark job; the dictionary is sorted by
        term, so only the row groups whose term statistics overlap the
        range are read."""
        flt = (("term", ">=", lo),) + (() if hi is None else (("term", "<", hi),))
        terms: set[str] = set()
        for g in self.live_gens:
            t = read_table(os.path.join(g["dir"], "dict"), ["term"], flt)
            terms.update(_strings(t["term"]).tolist())
        return sorted(terms)[:max_expansions]


# a docs(doc_idx, doc_len) side up to this size is broadcast into the
# distributed plans' postings join; past it Spark picks the join
BROADCAST_DOCS_MAX = 5_000_000


def _bm25_slots(spark: SparkSession, gens: list[tuple[str, int]], terms: list[str],
                n_docs: int, avg_dl: float, k1: float, b: float, mode: str) -> DataFrame:
    """Distributed BM25 over the generations ``gens`` ((directory, slot
    base)): DataFrame(slot, score) of the matching slots. Plain Spark SQL:
    each generation's postings under ``term_id IN (...)`` (ids and dfs from
    a driver-side dictionary read; the dfs summed over generations give
    the idf, with Python's ``math.log`` like the in-driver scorer), joined
    to a broadcast (term_id, idf) table and to the generation's
    docs(doc_idx, doc_len)."""
    dicts = [read_table(os.path.join(d, "dict"), ["term", "term_id", "df"],
                        (("term", "in", terms),)) for d, _base in gens]
    df: dict[str, int] = {}
    for dic in dicts:
        for t, n in zip(_strings(dic["term"]), dic["df"].to_numpy().tolist()):
            df[t] = df.get(t, 0) + n
    idf = {t: math.log(1.0 + (n_docs - n + 0.5) / (n + 0.5)) for t, n in df.items()}
    parts = []
    for (d, base), dic in zip(gens, dicts):
        if dic.num_rows == 0:
            continue
        ids = dic["term_id"].to_numpy().tolist()
        idf_tbl = spark.createDataFrame(
            [(i, idf[t]) for i, t in zip(ids, _strings(dic["term"]))],
            "term_id int, idf double",
        )
        docs = spark.read.parquet(os.path.join(d, "docs")).select(
            F.col("doc_idx").cast("int"), "doc_len")
        if n_docs <= BROADCAST_DOCS_MAX:
            docs = F.broadcast(docs)
        posts = (
            spark.read.parquet(os.path.join(d, "postings"))
            .filter(F.col("term_id").isin(ids))
            .join(F.broadcast(idf_tbl), "term_id")
            .join(docs, "doc_idx")
        )
        parts.append(posts.select(
            (F.col("doc_idx") + F.lit(base)).cast("long").alias("slot"),
            "term_id",
            (F.col("idf") * (F.col("tf") / (F.col("tf") + F.lit(k1) * (
                F.lit(1.0 - b) + F.lit(b) * F.col("doc_len") / F.lit(avg_dl))))).alias("score"),
        ))
    if not parts:
        return spark.createDataFrame([], "slot long, score double")
    # a slot's contributions are added in term order from 0.0, as the
    # in-driver scorer adds them (a slot lies in one generation, whose
    # term_id is the term's rank). F.sum would add them in task arrival
    # order, which varies from run to run and flips near-ties.
    in_term_order = F.array_sort(F.collect_list(F.struct("term_id", "score")))
    agg = functools.reduce(DataFrame.unionByName, parts).groupBy("slot").agg(
        F.aggregate(in_term_order, F.lit(0.0), lambda acc, x: acc + x["score"]).alias("score"),
        F.count("*").alias("_nm"))
    if mode == "and":
        # posting rows are unique per (term, doc), so the row count per slot
        # IS the matched-term count; a term absent from the corpus caps it
        # below len(terms) → empty result, matching ES operator:and
        agg = agg.filter(F.col("_nm") == len(terms))
    return agg.drop("_nm")


def live_docs(spark: SparkSession, gens: list[dict], cols=None) -> DataFrame:
    """The liveness rule as a Spark plan (``dead_slots`` is its NumPy
    form): the live rows of the generations' docs stores, as slot, then
    doc_id and ``cols`` in the stores' column order (``cols`` None: every
    docs column but doc_idx). The generations' docs are unioned with
    their slot bases; with several live generations each doc_id keeps
    only its newest generation's row (a (doc_id, generation) aggregate
    joined back as a semi-join, so the value columns are carried, never
    compared), and the rows a strictly later tombstone covers are dropped
    through a broadcast join of the folded tombstones. One shuffle on
    doc_id over the docs stores, and none for a single live generation."""
    parts, bases = [], slot_bases(gens)
    for g in gens:
        if not g["dir"]:
            continue
        docs = spark.read.parquet(os.path.join(g["dir"], "docs"))
        keep = [c for c in docs.columns if c != "doc_idx"
                and (cols is None or c == "doc_id" or c in cols)]
        parts.append(docs.select(
            (F.col("doc_idx") + F.lit(bases[g["gen"]])).cast("long").alias("slot"),
            F.lit(int(g["gen"])).alias("_gen"), *keep))
    if not parts:
        raise ValueError("no generation holds documents")
    out = functools.reduce(
        lambda a, b: a.unionByName(b, allowMissingColumns=True), parts)
    if len(parts) > 1:
        newest = out.groupBy("doc_id").agg(F.max("_gen").alias("_gen"))
        out = out.join(newest, ["doc_id", "_gen"], "left_semi")
    tombs = fold_tombstones(gens)
    if tombs:
        dels = spark.createDataFrame(list(tombs.items()), "doc_id long, _del_gen long")
        out = out.join(F.broadcast(dels), "doc_id", "left").filter(
            F.col("_del_gen").isNull() | (F.col("_del_gen") <= F.col("_gen"))
        ).drop("_del_gen")
    return out.drop("_gen")


def bm25_topk_spark(
    spark: SparkSession, index_dir: str, query: str, k: int = 10, mode: str = "or"
) -> DataFrame:
    """Distributed BM25 top-k over the index's generations (a plain index
    is one): returns DataFrame(doc_id, score) ordered. mode="and" = ES
    operator:and (all analyzed terms must match). ``_bm25_slots`` scores
    the matching slots of every live generation; joining them to
    ``live_docs`` drops the superseded and tombstoned slots and gives each
    its doc_id, and TakeOrdered keeps the top k by (score desc, doc_id
    asc). No driver array of corpus size is built."""
    r = IndexReader(spark, index_dir)  # metadata only: no doc or postings read
    terms = sorted(set(tokenize_text(query)))
    if not terms or not r.live_gens:
        return spark.createDataFrame([], "doc_id long, score double")
    agg = _bm25_slots(spark, [(g["dir"], r.bases[g["gen"]]) for g in r.live_gens], terms,
                      r.n_docs, r.avg_dl, r.k1, r.b, mode)
    return (
        agg.join(live_docs(spark, r.gens, ()), "slot")
        .select("doc_id", "score")
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(k)
    )


def _select_topk(scores: np.ndarray, docids: np.ndarray, k: int) -> list[tuple[int, float]]:
    """Tie-exact top-k: partial-select by score, widen to include every doc
    tied with the k-th score, then (score desc, doc_id asc) order."""
    kk = min(k, scores.size)
    if kk == 0:
        return []
    if scores.size > kk:
        part = np.argpartition(-scores, kk - 1)[:kk]
        cand = scores >= scores[part].min()
    else:
        cand = np.ones(scores.size, dtype=bool)
    cs, cd = scores[cand], docids[cand]
    order = np.lexsort((cd, -cs))
    return [(int(cd[i]), float(cs[i])) for i in order[:kk]]


def _bm25(r, weight: float, tfs: np.ndarray, dl: np.ndarray, avg_dl: float) -> np.ndarray:
    """Per-posting BM25 contribution: weight · tf / (tf + k1(1 - b + b·dl/avgdl))."""
    tf = tfs.astype(np.float64)
    return weight * (tf / (tf + r.k1 * (1.0 - r.b + r.b * dl / avg_dl)))


def _accumulate(
    parts: list[tuple[np.ndarray, np.ndarray, bool]], need: int = 0, live=None
) -> tuple[np.ndarray, np.ndarray]:
    """The BM25 accumulate kernel: ``parts`` holds one (slots,
    contributions, counted) triple per scoring term, in sorted-term order.
    Returns the (slots, score sums) of the docs matched by at least
    ``need`` counted terms and live, slot-ascending.

    Accumulates over TOUCHED docs only (O(total postings), never
    O(n_docs) — a corpus-sized accumulator per query is the wrong ambition
    at 10^12 docs). Contributions concatenate in part order and
    ``bincount`` adds them into each doc's sum in input order, from 0.0,
    so per-doc float summation order — and therefore every bit of the
    result — is identical to the classic full-array formulation."""
    if not parts:
        return np.empty(0, np.int64), np.empty(0, np.float64)
    uniq, inv = np.unique(np.concatenate([p[0] for p in parts]), return_inverse=True)
    sums = np.bincount(inv, weights=np.concatenate([p[1] for p in parts]), minlength=uniq.size)
    matched = np.ones(uniq.size, dtype=bool)
    if need:
        counted = np.concatenate([np.full(p[0].size, p[2]) for p in parts])
        matched = np.bincount(inv, weights=counted, minlength=uniq.size) >= need
    if live is not None:
        matched &= live[uniq]
    return uniq[matched], sums[matched]


class TermAtATimeScorer:
    def __init__(self, reader: IndexReader):
        self.r = reader

    def score(
        self,
        query: str = "",
        k: int = 10,
        mode: str = "or",
        live: np.ndarray | None = None,
        terms: list[str] | None = None,
    ) -> list[tuple[int, float]]:
        """mode="or": ES match default; mode="and": ES operator:and — every
        analyzed term must match (rank-identical to OracleIndex.score).
        ``live``: optional per-slot liveness mask (generational indexes:
        superseded/tombstoned slots are skipped, Lucene liveDocs-style).
        ``terms``: pre-analyzed terms, bypassing tokenization — the entry
        point for FIELDED queries ("lang:go"-style qualified terms from
        analysis.fields.field_query_terms), whose ':' the standard analyzer
        would split. ``k=None``: every match, as (doc_ids, scores) arrays
        in slot order, for callers that page or combine the full set."""
        r = self.r
        terms = sorted(set(terms)) if terms is not None else sorted(set(tokenize_text(query)))
        doc_len, doc_ids = r.doc_arrays()
        postings = r.fetch_postings(terms) if terms else {}
        parts = []
        if mode != "and" or len(postings) == len(terms):  # else a term is absent
            for term in terms:
                if term in postings:
                    docs, tfs = postings[term]
                    idf = r.idf(len(docs))
                    parts.append((docs, _bm25(r, idf, tfs, doc_len[docs], r.avg_dl), True))
        slots, scores = _accumulate(parts, len(terms) if mode == "and" else 1, live)
        if k is None:
            return doc_ids[slots], scores
        return _select_topk(scores, doc_ids[slots], k)


def phrase_topk(
    reader: IndexReader,
    phrase: str,
    k: int = 10,
    slop: int = 0,
    live: np.ndarray | None = None,
) -> list[tuple[int, float]]:
    """Phrase / proximity query over a positional index.

    slop=0: exact phrase (Lucene PhraseQuery) — terms at consecutive
    positions, tf = phrase frequency, idf = sum of the phrase terms' idfs
    (duplicates counted each time, like Lucene):

        score = (Σ_t idf(t)) * ptf / (ptf + k1·(1 − b + b·dl/avgdl))

    slop>0: nearest-occurrence proximity (a deliberately SIMPLER spec than
    Lucene's SloppyPhraseScorer, chosen to be exactly reproducible in SQL):
    for each occurrence p0 of the first term, the displacement is
    m(p0) = Σ_i min_{p∈P_i} |p − (p0 + i)|; occurrences with m ≤ slop
    contribute weight 1/(m+1), and ptf is the weight sum. At slop=0 this
    reduces bit-for-bit to the exact-phrase scoring above; at slop ≤ 1 all
    weights are dyadic (1, 1/2), so float summation is order-independent
    and the DuckDB twin matches exactly.

    Requires an index built with IndexConfig(store_positions=True)."""
    r = reader
    if live is None:
        # tombstoned/superseded docs must not surface from a phrase query
        live = r._live
    qterms = tokenize_text(phrase)  # order + duplicates matter
    if not qterms:
        return []
    uniq = sorted(set(qterms))
    per_term = _fetch_positional(r, uniq)
    if per_term is None:
        return []
    doc_len, doc_ids = r.doc_arrays()
    if any(t not in per_term for t in qterms):
        return []  # a phrase term is absent from the corpus
    # candidate docs: intersection across the phrase's distinct terms
    cand = per_term[uniq[0]][0]
    for t in uniq[1:]:
        cand = np.intersect1d(cand, per_term[t][0], assume_unique=True)
    if live is not None and cand.size:
        cand = cand[live[cand]]
    if cand.size == 0:
        return []
    idf_sum = sum(r.idf(len(per_term[t][0])) for t in qterms)

    # --- vectorized candidate scoring (no per-doc Python) ---
    # Each term's candidate positions are gathered into ONE flat array in
    # candidate order, shifted by doc_rank * BIG so the concatenation stays
    # globally sorted and a neighbor from an adjacent doc can never win the
    # min-displacement (its distance exceeds any within-doc distance by
    # construction of BIG). Then ONE searchsorted per query term scores
    # every candidate occurrence at once — identical arithmetic, per
    # occurrence, to the per-doc formulation (tested against it).
    max_pos = max(int(p.max()) if p.size else 0 for _, _, p in per_term.values())
    big = np.int64(2 * (max_pos + len(qterms)) + slop + 2)
    base_pos, base_rank, base_counts = _gather_cand_positions(per_term, qterms[0], cand)
    base_sh = base_pos + base_rank * big
    disp = np.zeros(base_pos.shape, dtype=np.int64)
    shifted_cache: dict[str, np.ndarray] = {}
    for i, t in enumerate(qterms[1:], start=1):
        if t in shifted_cache:
            tp = shifted_cache[t]
        else:
            tpos, trank, _ = _gather_cand_positions(per_term, t, cand)
            tp = tpos + trank * big
            shifted_cache[t] = tp
        want = base_sh + i
        j = np.searchsorted(tp, want)
        left = np.abs(want - tp[np.maximum(j - 1, 0)])
        right = np.abs(tp[np.minimum(j, tp.size - 1)] - want)
        disp += np.minimum(left, right)
    ok = disp <= slop
    w = 1.0 / (disp[ok] + 1.0)
    ptf = np.zeros(cand.size, dtype=np.float64)
    np.add.at(ptf, base_rank[ok], w)  # sequential, in-occurrence-order sums
    hit = ptf > 0.0
    if not hit.any():
        return []
    idxs = cand[hit]
    pt = ptf[hit]
    dl = doc_len[idxs]
    scores = idf_sum * pt / (pt + r.k1 * (1.0 - r.b + r.b * dl / r.avg_dl))
    return _select_topk(scores, doc_ids[idxs], k)


def span_near_topk(
    reader: IndexReader,
    terms: list[str],
    k: int = 10,
    slop: int = 0,
    live: np.ndarray | None = None,
) -> list[tuple[int, float]]:
    """ES ``span_near`` (ordered) over a positional index — the Lucene
    SpanNearQuery family (reference delegates it to ES with the rest of the
    query DSL, search/README §"Search"). Spec (deliberately simpler than
    Lucene's span iterator, chosen to be exactly reproducible in SQL):

    for each occurrence p0 of terms[0], greedily chain forward — p1 = the
    FIRST position of terms[1] strictly after p0, p2 = the first position
    of terms[2] strictly after p1, … A chain that completes is a span of
    width w = p_last − p0 − (m−1) (w = 0 ⇔ consecutive). Spans with
    w ≤ slop contribute weight 1/(w+1); ptf is the weight sum and the doc
    scores like a phrase:  (Σ_t idf(t)) · ptf / (ptf + k1·(1−b+b·dl/avgdl)).

    ``in_order=false`` is intentionally unsupported: unordered span
    enumeration is iterator-order-defined in Lucene and has no clean
    declarative twin. Requires IndexConfig(store_positions=True)."""
    qterms = [t for q in terms for t in tokenize_text(q)]
    if len(qterms) < 2:
        return []
    return span_near_or_topk(reader, [[t] for t in qterms], k, slop=slop, live=live)


def span_near_or_topk(
    reader: IndexReader,
    clauses: list[list[str]],
    k: int = 10,
    slop: int = 0,
    live: np.ndarray | None = None,
) -> list[tuple[int, float]]:
    """``span_near`` over ``span_or`` clauses — Lucene's span ALGEBRA: each
    clause is a list of alternative terms, a clause's occurrences are the
    UNION of its alternatives' positions, and the ordered greedy chain /
    slop / weighting are exactly ``span_near_topk``'s spec (which is the
    single-alternative special case and delegates here — the harness twin
    re-proves the delegation bit-exact). A clause's idf uses its UNION
    document frequency (docs matching ANY alternative), the SQL-clean
    analogue of Lucene's SpanOr df. Requires store_positions=True."""
    r = reader
    if live is None:
        live = r._live
    groups = [sorted({t for alt in cl for t in tokenize_text(alt)}) for cl in clauses]
    if len(groups) < 2 or any(not g for g in groups):
        return []
    uniq = sorted({t for g in groups for t in g})
    per_term = _fetch_positional(r, uniq)
    if per_term is None:
        return []
    # candidates: docs where EVERY clause has at least one alternative
    clause_docs = []
    for g in groups:
        arrs = [per_term[t][0] for t in g if t in per_term]
        if not arrs:
            return []  # a whole clause is absent from the corpus
        clause_docs.append(
            arrs[0] if len(arrs) == 1 else np.unique(np.concatenate(arrs))
        )
    doc_len, doc_ids = r.doc_arrays()
    cand = clause_docs[0]
    for cd in clause_docs[1:]:
        cand = np.intersect1d(cand, cd, assume_unique=True)
    if live is not None and cand.size:
        cand = cand[live[cand]]
    if cand.size == 0:
        return []
    idf_sum = sum(r.idf(cd.size) for cd in clause_docs)

    # Same shifted-flat-array trick as phrase_topk: per-candidate positions
    # shifted by doc_rank·BIG keep the concatenation globally sorted, so the
    # whole greedy chain is ONE searchsorted per clause — a neighbor from an
    # adjacent doc lands ≥ BIG away and can never pass the slop gate. A
    # clause's union is the sorted merge of its alternatives' shifted
    # arrays. A +inf sentinel absorbs chains that run off the end.
    max_pos = max(int(p.max()) if p.size else 0 for _, _, p in per_term.values())
    big = np.int64(2 * (max_pos + len(groups)) + slop + 2)

    def shifted(g: list[str]) -> np.ndarray:
        parts = []
        for t in g:
            if t in per_term:
                tpos, trank, _ = _gather_cand_positions(per_term, t, cand)
                parts.append(tpos + trank * big)
        if len(parts) == 1:
            return parts[0]  # already globally sorted (doc-major)
        return np.sort(np.concatenate(parts))

    base_sh = shifted(groups[0])
    if base_sh.size == 0:
        return []
    base_rank = (base_sh // big).astype(np.int64)
    cur = base_sh
    sentinel = np.int64(np.iinfo(np.int64).max // 2)
    for g in groups[1:]:
        tp = np.append(shifted(g), sentinel)
        # strictly-after: side='right' lands on the first element > cur.
        # A chain already parked on the sentinel would index past the end —
        # clip back onto the sentinel slot (width stays ≫ slop).
        cur = tp[np.minimum(np.searchsorted(tp, cur, side="right"), tp.size - 1)]
    width = cur - base_sh - np.int64(len(groups) - 1)
    ok = width <= slop  # incomplete chains hit the sentinel ⇒ width ≫ slop
    if not ok.any():
        return []
    w = 1.0 / (width[ok].astype(np.float64) + 1.0)
    ptf = np.zeros(cand.size, dtype=np.float64)
    np.add.at(ptf, base_rank[ok], w)  # in-occurrence-order, like phrase_topk
    hit = ptf > 0.0
    idxs = cand[hit]
    pt = ptf[hit]
    dl = doc_len[idxs]
    scores = idf_sum * pt / (pt + r.k1 * (1.0 - r.b + r.b * dl / r.avg_dl))
    return _select_topk(scores, doc_ids[idxs], k)


def span_first_topk(
    reader: IndexReader,
    term: str,
    end: int,
    k: int = 10,
    live: np.ndarray | None = None,
) -> list[tuple[int, float]]:
    """ES ``span_first``: match docs whose ``term`` occurs within the first
    ``end`` token positions (0-based: position < end), tf = the count of
    such early occurrences, scored with the ordinary BM25 term formula.
    Requires IndexConfig(store_positions=True)."""
    r = reader
    if live is None:
        live = r._live
    toks = tokenize_text(term)
    if len(toks) != 1:
        raise ValueError("span_first takes a single-term clause")
    t = toks[0]
    per_term = _fetch_positional(r, [t])
    if per_term is None or t not in per_term:
        return []
    docs, counts, flat = per_term[t]
    # per-posting early-occurrence count: positions are flat in posting
    # order, so one reduceat over (pos < end) gives tf_early per doc
    early = (flat < end).astype(np.int64)
    ends = np.cumsum(counts)
    starts = ends - counts
    nz = counts > 0
    tf_early = np.zeros(docs.size, dtype=np.int64)
    if nz.any():
        segsum = np.add.reduceat(early, starts[nz])
        tf_early[nz] = segsum
    mask = tf_early > 0
    if live is not None:
        mask &= live[docs]
    idxs = docs[mask]
    if idxs.size == 0:
        return []
    idf = r.idf(len(docs))
    tf = tf_early[mask].astype(np.float64)
    dl = reader.doc_arrays()[0][idxs]
    scores = idf * tf / (tf + r.k1 * (1.0 - r.b + r.b * dl / r.avg_dl))
    return _select_topk(scores, reader.doc_arrays()[1][idxs], k)


def span_not_topk(
    reader: IndexReader,
    include: str,
    exclude: str,
    pre: int = 0,
    post: int = 0,
    k: int = 10,
    live: np.ndarray | None = None,
) -> list[tuple[int, float]]:
    """ES ``span_not``: occurrences of ``include`` that have NO occurrence
    of ``exclude`` within ``pre`` positions before / ``post`` after (the
    "a but not near b" query). tf = surviving occurrences, scored with the
    ordinary BM25 term formula over include's df — the same scoring family
    as span_first. One positional fetch for both terms, the exclusion test
    is one searchsorted over exclude's shifted positions (no per-
    occurrence loop). Requires store_positions=True."""
    r = reader
    if live is None:
        live = r._live
    ti = tokenize_text(include)
    te = tokenize_text(exclude)
    if len(ti) != 1 or len(te) != 1:
        raise ValueError("span_not takes single-term include/exclude clauses")
    ti, te = ti[0], te[0]
    per_term = _fetch_positional(r, sorted({ti, te}))
    if per_term is None or ti not in per_term:
        return []
    docs_i, counts_i, flat_i = per_term[ti]
    doc_len, doc_ids = r.doc_arrays()
    idf = r.idf(len(docs_i))
    if te not in per_term:
        surviving = counts_i.copy()  # nothing to exclude anywhere
        docs = docs_i
    else:
        # shifted flat arrays (phrase_topk's trick): include positions and
        # exclude positions live on the same doc-major number line, so ONE
        # searchsorted answers "is there an exclude in [p-pre, p+post]?"
        max_pos = int(
            max(flat_i.max() if flat_i.size else 0,
                per_term[te][2].max() if per_term[te][2].size else 0)
        )
        big = np.int64(2 * (max_pos + pre + post + 2))
        rank_i = np.repeat(np.arange(docs_i.size, dtype=np.int64), counts_i)
        inc_sh = flat_i.astype(np.int64) + rank_i * big
        docs_e, counts_e, flat_e = per_term[te]
        # exclude ranks must live in INCLUDE's doc-rank space
        pos_in_i = np.searchsorted(docs_i, docs_e)
        pos_in_i = np.minimum(pos_in_i, docs_i.size - 1)
        shared = docs_i[pos_in_i] == docs_e
        rank_e = np.repeat(pos_in_i, counts_e)
        keep_e = np.repeat(shared, counts_e)
        exc_sh = np.sort(flat_e.astype(np.int64)[keep_e] + rank_e[keep_e] * big)
        lo = inc_sh - np.int64(pre)
        hi = inc_sh + np.int64(post)
        # an exclude exists in [lo, hi] iff the insertion points differ
        bad = np.searchsorted(exc_sh, lo, side="left") != np.searchsorted(
            exc_sh, hi, side="right"
        )
        surviving = np.zeros(docs_i.size, dtype=np.int64)
        np.add.at(surviving, rank_i, (~bad).astype(np.int64))
        docs = docs_i
    mask = surviving > 0
    if live is not None:
        mask &= live[docs]
    idxs = docs[mask]
    if idxs.size == 0:
        return []
    tf = surviving[mask].astype(np.float64)
    dl = doc_len[idxs]
    scores = idf * tf / (tf + r.k1 * (1.0 - r.b + r.b * dl / r.avg_dl))
    return _select_topk(scores, doc_ids[idxs], k)


def _min_cover_width(lists: list[np.ndarray]) -> int:
    """Smallest ``max - min`` over one position drawn from each sorted
    list — the classic k-way-merge minimal-cover sweep (advance the
    minimum head, track the running max). O(total positions · log k)."""
    idx = [0] * len(lists)
    heads = [(int(arr[0]), j) for j, arr in enumerate(lists)]
    heapq.heapify(heads)
    cur_max = max(int(arr[0]) for arr in lists)
    best = cur_max - heads[0][0]
    while True:
        mn, j = heapq.heappop(heads)
        if cur_max - mn < best:
            best = cur_max - mn
        idx[j] += 1
        if idx[j] >= lists[j].size:
            return best
        v = int(lists[j][idx[j]])
        if v > cur_max:
            cur_max = v
        heapq.heappush(heads, (v, j))


def intervals_match(
    reader: IndexReader,
    query: str,
    max_gaps: int = 0,
    k: int | None = None,
    live: np.ndarray | None = None,
) -> list[int]:
    """ES intervals query, ``all_of(ordered=false, max_gaps=g)``: docs
    where ALL query terms co-occur inside some window with at most
    ``max_gaps`` non-query positions between its ends — the unordered
    complement of ``span_near_topk`` (which requires the chain in query
    order). A window covering k terms at positions spanning ``w = max -
    min`` has ``w + 1 - k`` gaps, so the match test is ``min-cover-width
    + 1 - k <= max_gaps``; the minimal cover per doc comes from one
    k-way-merge sweep over the candidate's position lists. Constant-score
    membership (ES scores intervals by sloppy-tf; the filter context —
    where intervals queries overwhelmingly run — is score-free), result
    in doc_id order. Candidates are the docs containing EVERY term
    (posting-list intersection), so the sweep touches O(df_rarest) docs —
    the same cost class as the phrase scorers. Requires
    IndexConfig(store_positions=True)."""
    r = reader
    if live is None:
        live = r._live
    qterms = tokenize_text(query)
    if not qterms:
        return []
    uniq_terms = sorted(set(qterms))
    per_term = _fetch_positional(r, uniq_terms)
    if per_term is None or any(t not in per_term for t in uniq_terms):
        return []
    cand = per_term[uniq_terms[0]][0]
    for t in uniq_terms[1:]:
        cand = cand[np.isin(cand, per_term[t][0], assume_unique=True)]
    if live is not None and cand.size:
        cand = cand[live[cand]]
    if cand.size == 0:
        return []
    gathered = {}
    for t in uniq_terms:
        pos, drank, cnts = _gather_cand_positions(per_term, t, cand)
        ends = np.cumsum(cnts)
        gathered[t] = (pos, ends - cnts, ends)
    need = len(uniq_terms)
    _, doc_ids = r.doc_arrays()
    hits = []
    for i in range(cand.size):
        lists = [gathered[t][0][gathered[t][1][i] : gathered[t][2][i]] for t in uniq_terms]
        if _min_cover_width(lists) + 1 - need <= max_gaps:
            hits.append(int(doc_ids[cand[i]]))
    hits.sort()
    return hits[:k] if k is not None else hits


def intervals_groups_match(
    reader: IndexReader,
    groups: list[list[str]],
    max_gaps: int = 0,
    k: int | None = None,
    live: np.ndarray | None = None,
) -> list[int]:
    """ES intervals ``all_of(ordered=false, max_gaps)`` whose sources may
    be ``any_of`` ALTERNATIONS: each group matches at any position where
    ANY of its alternative terms occurs (the group's position list is the
    sorted union), and all groups must fit inside some window with at most
    ``max_gaps`` filler positions — ``intervals_match`` is the
    single-alternative special case (kept verbatim; this generalization
    shares its helpers and its min-cover spec). Constant-score membership,
    doc_id order. Requires store_positions=True."""
    r = reader
    if live is None:
        live = r._live
    norm = [sorted({t for alt in g for t in tokenize_text(alt)}) for g in groups]
    if not norm or any(not g for g in norm):
        return []
    uniq = sorted({t for g in norm for t in g})
    per_term = _fetch_positional(r, uniq)
    if per_term is None:
        return []
    group_docs = []
    for g in norm:
        arrs = [per_term[t][0] for t in g if t in per_term]
        if not arrs:
            return []  # a whole group is absent from the corpus
        group_docs.append(
            arrs[0] if len(arrs) == 1 else np.unique(np.concatenate(arrs))
        )
    cand = group_docs[0]
    for gd in group_docs[1:]:
        cand = cand[np.isin(cand, gd, assume_unique=True)]
    if live is not None and cand.size:
        cand = cand[live[cand]]
    if cand.size == 0:
        return []
    gathered = {}
    for t in uniq:
        if t in per_term:
            pos, _drank, cnts = _gather_cand_positions(per_term, t, cand)
            ends = np.cumsum(cnts)
            gathered[t] = (pos, ends - cnts, ends)
    need = len(norm)
    _, doc_ids = r.doc_arrays()
    hits = []
    for i in range(cand.size):
        lists = []
        for g in norm:
            parts = [
                gathered[t][0][gathered[t][1][i] : gathered[t][2][i]]
                for t in g if t in gathered
            ]
            merged = parts[0] if len(parts) == 1 else np.sort(np.concatenate(parts))
            if merged.size == 0:
                break  # this doc lacks the group (possible with any_of unions)
            lists.append(merged)
        if len(lists) < need:
            continue
        if _min_cover_width(lists) + 1 - need <= max_gaps:
            hits.append(int(doc_ids[cand[i]]))
    hits.sort()
    return hits[:k] if k is not None else hits


def _raise_no_positions():
    raise ValueError(
        "phrase queries need a positional index — build with "
        "IndexConfig(store_positions=True)"
    )


def _fetch_positional(r, terms: list[str]):
    """Shared positional fetch (phrase_topk / match_phrase_prefix): term →
    (slots, per-posting position counts, ONE flat position array) — the
    tfs are the counts, so a term costs slices, never one array object per
    posting. Returns None when no term matched; raises when the index
    stores no positions."""
    if not r.positions_stored:
        _raise_no_positions()
    return r.fetch_blocks(terms, positions=True) or None


def _gather_cand_positions(per_term, term: str, cand: np.ndarray):
    """Candidate-ordered flat positions for one term: (positions, doc_rank,
    per-candidate counts). Tolerates candidates the term lacks (zero-count
    slices), so it serves both the intersection case (cand ⊆ docs) and the
    expansion case (some candidates missing the term)."""
    docs_t, counts_t, flat_t = per_term[term]
    idx = np.searchsorted(docs_t, cand)
    idx_c = np.minimum(idx, max(docs_t.size - 1, 0))
    present = (docs_t[idx_c] == cand) if docs_t.size else np.zeros(cand.size, bool)
    ends_t = np.cumsum(counts_t)
    starts_t = ends_t - counts_t
    sc = np.where(present, counts_t[idx_c], 0) if docs_t.size else np.zeros(cand.size, np.int64)
    ss = np.where(present, starts_t[idx_c], 0) if docs_t.size else np.zeros(cand.size, np.int64)
    total = int(sc.sum())
    o_ends = np.cumsum(sc)
    o_starts = o_ends - sc
    take = np.arange(total, dtype=np.int64) - np.repeat(o_starts, sc) + np.repeat(ss, sc)
    drank = np.repeat(np.arange(cand.size, dtype=np.int64), sc)
    return flat_t[take], drank, sc


def bool_topk(
    reader: IndexReader,
    must: list[str] | None = None,
    should: list[str] | None = None,
    must_not: list[str] | None = None,
    k: int = 10,
    live: np.ndarray | None = None,
) -> list[tuple[int, float]]:
    """ES bool query: ``must`` terms are all required, ``must_not`` terms
    exclude, and the score is the SUM of the BM25 contributions of every
    matched must/should term (must_not never contributes) — exactly
    Elasticsearch's bool scoring for term clauses. ``k=None``: every
    match, as (doc_ids, scores) arrays in slot order (the /_search path,
    which pages and counts the full match set itself)."""
    r = reader
    must = sorted({t for q in (must or []) for t in tokenize_text(q)})
    should = sorted({t for q in (should or []) for t in tokenize_text(q)})
    must_not = sorted({t for q in (must_not or []) for t in tokenize_text(q)})
    scoring = sorted(set(must) | set(should))
    doc_len, doc_ids = r.doc_arrays()
    postings = r.fetch_postings(sorted(set(scoring) | set(must_not))) if scoring else {}
    parts = []
    if all(t in postings for t in must):  # else a required term is absent
        for term in scoring:
            if term in postings:
                docs, tfs = postings[term]
                idf = r.idf(len(docs))
                parts.append((docs, _bm25(r, idf, tfs, doc_len[docs], r.avg_dl), term in must))
    slots, scores = _accumulate(parts, len(must), live)
    for term in must_not:
        if term in postings:
            keep = ~np.isin(slots, postings[term][0], assume_unique=True)
            slots, scores = slots[keep], scores[keep]
    if k is None:
        return doc_ids[slots], scores
    return _select_topk(scores, doc_ids[slots], k)


def prefix_match(
    reader: IndexReader,
    prefix: str,
    k: int | None = None,
    max_expansions: int | None = 50,
    live: np.ndarray | None = None,
) -> list[int]:
    """ES prefix query (constant-score): doc_ids containing ANY term that
    starts with ``prefix``.

    Term expansion goes through ``reader.expand_prefix`` (the union of
    the generations' dictionaries) and is capped at
    ``max_expansions`` terms in term order — ES's expansion cap, default 50;
    pass None for the uncapped rewrite. Every score is the same constant, so
    top-k under the (score desc, doc_id asc) tie-break is simply the k
    smallest doc_ids; ``k=None`` returns all matches. ``live`` defaults to
    the reader's own liveDocs, so superseded/tombstoned docs never
    surface."""
    r = reader
    terms = r.expand_prefix(prefix.lower(), max_expansions)
    out = _expansion_docs(r, terms, live)
    return out[:k] if k is not None else out


def _expansion_docs(
    r: IndexReader, terms: list[str], live: np.ndarray | None
) -> list[int]:
    """Shared tail of the constant-score expansion queries (prefix / fuzzy /
    wildcard): one multi-term posting fetch, union of slots, liveness mask,
    doc_id-sorted list."""
    if not terms:
        return []
    if live is None:
        live = r._live
    _, doc_ids = r.doc_arrays()
    postings = r.fetch_postings(terms)
    if not postings:
        return []
    slots = np.unique(np.concatenate([p[0] for p in postings.values()]))
    if live is not None:
        slots = slots[live[slots]]
    return [int(x) for x in np.sort(doc_ids[slots])]


def _levenshtein(a: str, b: str) -> int:
    """Plain DP edit distance (insert/delete/substitute, unit costs) — the
    same definition as DuckDB's levenshtein(), so the oracle is exact."""
    if a == b:
        return 0
    if not a or not b:
        return max(len(a), len(b))
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, start=1):
        cur = [i]
        for j, cb in enumerate(b, start=1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def fuzzy_match(
    reader: IndexReader,
    term: str,
    fuzziness: int = 1,
    prefix_length: int = 1,
    max_expansions: int | None = 50,
    k: int | None = None,
    live: np.ndarray | None = None,
) -> list[int]:
    """ES fuzzy query (constant-score): docs containing any term within
    ``fuzziness`` edits of ``term``. ``prefix_length`` (ES default 0; ours 1
    — the scale-sane setting ES docs themselves recommend) pins the first
    characters so expansion is a row-group-pruned dictionary RANGE seek
    (``expand_prefix``), never a dict scan. Each candidate whose length
    is within ``fuzziness`` of the query's then gets the edit-distance
    DP; the matches are capped at ``max_expansions`` in term order. Edit
    distance matches DuckDB's levenshtein() exactly."""
    r = reader
    q = term.lower()
    if prefix_length <= 0:
        raise ValueError("prefix_length must be >= 1 (a dict scan is not a plan)")
    terms = [
        t for t in r.expand_prefix(q[:prefix_length], None)
        if abs(len(t) - len(q)) <= fuzziness and _levenshtein(t, q) <= fuzziness
    ]
    if max_expansions is not None:
        terms = terms[:max_expansions]
    out = _expansion_docs(r, terms, live)
    return out[:k] if k is not None else out


def wildcard_match(
    reader: IndexReader,
    pattern: str,
    max_expansions: int | None = 50,
    k: int | None = None,
    live: np.ndarray | None = None,
) -> list[int]:
    """ES wildcard query (constant-score): ``*`` = any run, ``?`` = one
    char — exactly SQL LIKE's %/_ (the oracle translates verbatim). The
    fixed prefix before the first wildcard drives the dictionary range
    seek (``expand_prefix``); the whole pattern, compiled to a regex,
    filters that expansion in the driver.
    A leading-wildcard pattern is refused, as ES operators do in practice —
    it cannot seek and would scan the whole term dictionary."""
    import re as _re

    r = reader
    pat = pattern.lower()
    fixed = _re.split(r"[*?]", pat, maxsplit=1)[0]
    if not fixed:
        raise ValueError("leading-wildcard pattern would scan the whole dictionary")
    rx = _re.compile(
        "".join(
            ".*" if ch == "*" else "." if ch == "?" else _re.escape(ch) for ch in pat
        )
        + r"\Z"
    )
    terms = [t for t in r.expand_prefix(fixed, None) if rx.match(t)]
    if max_expansions is not None:
        terms = terms[:max_expansions]
    out = _expansion_docs(r, terms, live)
    return out[:k] if k is not None else out


_REGEX_META = set(".?*+(){}[]|\\^$")


def regexp_match(
    reader: IndexReader,
    pattern: str,
    max_expansions: int | None = 50,
    k: int | None = None,
    live: np.ndarray | None = None,
) -> list[int]:
    """ES regexp query (constant-score): docs containing any term the
    anchored regex fully matches — Lucene compiles the pattern to an
    automaton and intersects it with the term FST; the columnar analogue
    extracts the pattern's LITERAL PREFIX (the chars before the first
    regex metacharacter, exactly Lucene's ``CompiledAutomaton``
    common-prefix optimisation) to drive the row-group-pruned dictionary
    range seek (``expand_prefix``), and keeps the expanded terms that
    Python's ``re.fullmatch`` accepts. A pattern with no literal prefix
    is refused — it cannot seek and would scan the whole dictionary (same
    stance as ``wildcard_match``). Stick to the RE2 ∩ Java ∩ Python
    common subset (no lookarounds, no backrefs) when an external oracle
    must agree."""
    import re as _re

    r = reader
    pat = pattern.lower()
    fixed = ""
    i = 0
    while i < len(pat) and pat[i] not in _REGEX_META:
        fixed += pat[i]
        i += 1
    # a quantifier after the last literal char applies TO that char —
    # it is not part of the guaranteed prefix (Lucene does the same)
    if i < len(pat) and pat[i] in "?*+{" and fixed:
        fixed = fixed[:-1]
    # a TOP-LEVEL alternation invalidates the prefix entirely: in
    # "apache|zlib" the right branch never starts with "apache", so a
    # range seek on it would silently drop matches. '|' inside (...) or
    # [...] binds below the prefix and stays safe ("sca(n|le)").
    depth = 0
    skip = False
    for j in range(i, len(pat)):
        if skip:  # char escaped by a backslash: literal, no structure
            skip = False
            continue
        ch = pat[j]
        if ch == "\\":
            skip = True
        elif ch in "([":
            depth += 1
        elif ch in ")]":
            depth -= 1
        elif ch == "|" and depth == 0:
            fixed = ""
            break
    if not fixed:
        raise ValueError("pattern without a literal prefix would scan the dictionary")
    rx = _re.compile(pat)
    terms = [t for t in r.expand_prefix(fixed, None) if rx.fullmatch(t)]
    if max_expansions is not None:
        terms = terms[:max_expansions]
    out = _expansion_docs(r, terms, live)
    return out[:k] if k is not None else out


def range_match(
    reader: IndexReader,
    field: str,
    gte: str | None = None,
    lte: str | None = None,
    k: int | None = None,
    live: np.ndarray | None = None,
    max_expansions: int | None = None,
) -> list[int]:
    """ES range query on a KEYWORD field of a fielded index (constant
    score): docs whose ``field`` value is lexicographically within
    [gte, lte] — ES's keyword-range semantics exactly. The field's terms
    live as ``field:value`` in the term dict, so the expansion is one
    dictionary RANGE SEEK (``expand_range``) from ``field:gte`` (or the
    ``field:`` prefix) up to ``field:lte + "\\x00"``, the least string
    above ``field:lte`` (or the prefix's successor): the value bounds
    prune the dictionary's row groups, so its cost is the matching values
    only, never a scan. Numeric ranges at scale belong on the docs store /
    doc values (a plain pushed-down filter); this is the term-dict form ES
    uses for keyword fields."""
    pre = f"{field}:"
    lo = pre if gte is None else pre + gte
    hi = prefix_successor(pre) if lte is None else pre + lte + "\x00"
    terms = reader.expand_range(lo, hi, max_expansions)
    out = _expansion_docs(reader, terms, live)
    return out[:k] if k is not None else out


def match_phrase_prefix(
    reader: IndexReader,
    phrase: str,
    k: int | None = None,
    max_expansions: int | None = 50,
    live: np.ndarray | None = None,
) -> list[int]:
    """ES match_phrase_prefix (constant-score spec): the last analyzed term
    is a PREFIX; a doc matches when the fixed terms occur at consecutive
    positions immediately followed by any expansion of the prefix
    (expansion = dictionary range seek, capped at ``max_expansions`` in term
    order — ES's own cap for this query). Returns matching doc_ids sorted
    (constant score → doc_id tie-break), like the other expansion queries.
    Requires a positional index."""
    r = reader
    qterms = tokenize_text(phrase)
    if not qterms:
        return []
    fixed, pre = qterms[:-1], qterms[-1]
    expansions = r.expand_prefix(pre, max_expansions)
    if not expansions:
        return []
    if not fixed:
        out = _expansion_docs(r, expansions, live)
        return out[:k] if k is not None else out
    if live is None:
        live = r._live
    _, doc_ids = r.doc_arrays()
    uniq = sorted(set(fixed) | set(expansions))
    per_term = _fetch_positional(r, uniq)
    if per_term is None:
        return []
    if any(t not in per_term for t in fixed):
        return []
    # candidates: all fixed terms AND at least one expansion
    cand = per_term[fixed[0]][0]
    for t in sorted(set(fixed[1:])):
        cand = np.intersect1d(cand, per_term[t][0], assume_unique=True)
    exp_present = [t for t in expansions if t in per_term]
    if not exp_present or cand.size == 0:
        return []
    exp_docs = np.unique(np.concatenate([per_term[t][0] for t in exp_present]))
    cand = np.intersect1d(cand, exp_docs, assume_unique=True)
    if live is not None and cand.size:
        cand = cand[live[cand]]
    if cand.size == 0:
        return []

    max_pos = max(int(p.max()) if p.size else 0 for _, _, p in per_term.values())
    big = np.int64(2 * (max_pos + len(qterms)) + 2)
    shifted: dict[str, tuple[np.ndarray, np.ndarray]] = {}

    def _gather(term):
        # shared gather (tolerates candidates the term lacks) + memoized
        # doc_rank*big shift — repeated fixed terms / expansions cost once
        if term not in shifted:
            tpos, trank, _sc = _gather_cand_positions(per_term, term, cand)
            shifted[term] = (tpos + trank * big, trank)
        return shifted[term]

    base_sh, base_rank = _gather(fixed[0])
    ok = np.ones(base_sh.shape, dtype=bool)
    for i, t in enumerate(fixed[1:], start=1):
        tp, _ = _gather(t)
        want = base_sh + i
        j = np.minimum(np.searchsorted(tp, want), max(tp.size - 1, 0))
        ok &= tp.size > 0
        if tp.size:
            ok &= tp[j] == want
    want_last = base_sh + len(fixed)
    last_ok = np.zeros(base_sh.shape, dtype=bool)
    for t in exp_present:
        tp, _ = _gather(t)
        if tp.size == 0:
            continue
        j = np.minimum(np.searchsorted(tp, want_last), tp.size - 1)
        last_ok |= tp[j] == want_last
    ok &= last_ok
    hit_ranks = np.unique(base_rank[ok])
    out = sorted(int(x) for x in doc_ids[cand[hit_ranks]])
    return out[:k] if k is not None else out


def _global_dfs(reader: IndexReader, terms: list[str]) -> dict[str, int]:
    """The dictionary dfs of ``terms`` found in the reader's live
    generations, summed over them: each term's number of postings in the
    reader. Read in the driver with no Spark job, only from the row
    groups whose term statistics can hold one of ``terms``."""
    flt = (("term", "in", sorted(set(terms))),)
    out: dict[str, int] = {}
    for g in reader.live_gens:
        t = read_table(os.path.join(g["dir"], "dict"), ["term", "df"], flt)
        dfs = dict(zip(_strings(t["term"]), t["df"].to_numpy().tolist()))
        if out:
            for term, df in dfs.items():
                out[term] = out.get(term, 0) + df
        else:
            out = dfs
    return out


def terms_match(
    reader: IndexReader,
    field: str,
    values: list[str],
    k: int | None = None,
    live: np.ndarray | None = None,
) -> list[int]:
    """ES terms query (constant score): docs whose keyword ``field`` equals
    ANY of ``values`` — exact `field:value` term lookups on a fielded
    index, no dictionary scan at all (the posting fetch is a direct
    `term IN (...)` pushdown)."""
    return _expansion_docs(reader, [f"{field}:{v}" for v in values], live)[
        : k if k is not None else None
    ]


def match_all(
    reader: IndexReader,
    k: int | None = None,
    live: np.ndarray | None = None,
) -> list[tuple[int, float]]:
    """ES match_all: every live document at constant score 1.0 — the query
    the reference's own demo nests inside has_child (demo/README.md:28).
    No postings are touched: the doc store IS the answer. Deterministic
    order (doc_id asc, ES's tie-break for equal scores) so paging over the
    result is stable. At scale this is a doc-store scan, not a scorer.
    ``live`` defaults to the reader's own liveDocs, like every other query
    entry point."""
    _dl, ids = reader.doc_arrays()
    if live is None:
        live = reader._live
    if live is not None:
        # sparse path: LiveDocs drops its dead slots without materializing
        # a dense O(n_docs) mask; a caller-supplied plain ndarray mask
        # still works (single-generation readers, tests)
        drop = getattr(live, "drop_dead", None)
        ids = drop(ids) if drop is not None else ids[np.asarray(live, bool)]
    out = np.sort(ids)
    if k is not None:
        out = out[:k]
    return [(int(d), 1.0) for d in out]


def exists_match(
    reader: IndexReader,
    field: str,
    k: int | None = None,
    live: np.ndarray | None = None,
) -> list[int]:
    """ES exists query: docs that carry an INDEXED value for ``field`` —
    answered from the term dictionary, not the stored _source, so mapping
    options participate exactly like ES: a ``noindex`` field never
    matches, and a keyword whose value exceeded ``ignore_above`` does not
    count as existing (no indexed value, no doc value). The expansion is a
    row-group-pruned dictionary range seek over the ``field:`` prefix, then one
    multi-term posting fetch (constant score, doc_id order)."""
    terms = reader.expand_prefix(f"{field}:", max_expansions=None)
    if not terms:
        return []
    return _expansion_docs(reader, terms, live)[: k if k is not None else None]


_SQS_LEX = None  # compiled lazily (module imports re only here)


def parse_simple_query_string(
    query: str, default_operator: str = "or"
) -> list[list[tuple[str, str, int, bool]]]:
    """Parse ES ``simple_query_string`` syntax into OR-of-AND-groups.

    Supported flags (the ES defaults minus fuzziness): whitespace-joined
    clauses (joined by ``default_operator``), ``+`` (AND, binds tighter),
    ``|`` (OR), ``-`` (NOT, prefix on a clause), ``"..."`` phrases with an
    optional ``~N`` slop suffix, and trailing-``*`` prefix clauses. Like
    ES's SimpleQueryParser the grammar never errors: anything
    unparseable is just a term.

    Returns groups: ``[[(kind, text, slop, negated), ...], ...]`` — the
    query matches a doc if ANY group matches (every non-negated atom
    present, no negated atom), kind in {"term", "phrase", "prefix"}."""
    import re as _re

    global _SQS_LEX
    if _SQS_LEX is None:
        _SQS_LEX = _re.compile(r'-?"[^"]*"(?:~\d+)?|\||\+|\S+')
    groups: list[list[tuple[str, str, int, bool]]] = [[]]
    join = "start"
    for tok in _SQS_LEX.findall(query):
        if tok == "|":
            join = "or"
            continue
        if tok == "+":
            join = "and"
            continue
        negated = tok.startswith("-") and len(tok) > 1
        if negated:
            tok = tok[1:]
        slop = 0
        if tok.startswith('"') and '"' in tok[1:]:
            body, _, suffix = tok[1:].rpartition('"')
            kind, text = "phrase", body
            if suffix.startswith("~"):
                slop = int(suffix[1:])
        elif tok.startswith('"'):
            # unclosed quote: degrade to a term (the never-error contract)
            kind, text = "term", tok[1:]
        elif tok.endswith("*") and len(tok) > 1:
            kind, text = "prefix", tok[:-1]
        else:
            kind, text = "term", tok
        if not text:
            continue
        eff = default_operator if join == "start" else join
        if groups[-1] and eff != "and":
            groups.append([])
        groups[-1].append((kind, text, slop, negated))
        join = "start"
    return [g for g in groups if g]


def simple_query_string(
    reader: IndexReader,
    query: str,
    k: int = 10,
    default_operator: str = "or",
    live: np.ndarray | None = None,
) -> list[tuple[int, float]]:
    """ES simple_query_string query — the user-facing mini query language
    (``"table hash" | spark -delrel``), compiled onto this engine's
    primitives: term atoms score BM25 (`bool_topk` machinery), phrase
    atoms score Lucene PhraseQuery semantics (`phrase_topk` — positional
    index required), prefix atoms are constant-score 1.0 (Lucene
    ConstantScore(PrefixQuery), as in ES). A doc's score is the sum of
    every matching OR-group's score, where a group matches iff all its
    non-negated atoms match and no negated atom does, and the group's
    score is the sum of its atoms' scores — exactly the BooleanQuery ES
    compiles this syntax to. A group containing ONLY negated atoms is
    hoisted to a query-level MUST_NOT (Lucene SimpleQueryParser:
    ``foo -bar`` under the OR default is SHOULD(foo) + MUST_NOT(bar), not
    "OR not-bar"); a query that is all negation matches nothing. Scale
    shape: every atom is one bounded posting/dictionary fetch; the
    composition handles O(matching docs) per atom — the same class as
    every scorer here, merged in plain dicts (the serving-node glue
    layer, not a Spark job)."""
    if live is None:
        live = reader._live
    groups = parse_simple_query_string(query, default_operator)
    if not groups:
        return []
    n_docs = reader.doc_arrays()[1].size
    totals: dict[int, float] = {}

    def atom_scores(kind: str, text: str, slop: int) -> dict[int, float]:
        if kind == "phrase":
            return dict(phrase_topk(reader, text, k=n_docs, slop=slop, live=live))
        if kind == "prefix":
            return {d: 1.0 for d in prefix_match(reader, text, live=live)}
        return dict(bool_topk(reader, must=[text], k=n_docs, live=live))

    global_neg: list[tuple[str, str, int, bool]] = []
    for group in groups:
        pos = [a for a in group if not a[3]]
        neg = [a for a in group if a[3]]
        if not pos:
            global_neg.extend(neg)  # query-level MUST_NOT
            continue
        parts = [atom_scores(kind, text, slop) for kind, text, slop, _ in pos]
        matched = set(parts[0])
        for p in parts[1:]:
            matched &= set(p)
        for kind, text, slop, _ in neg:
            matched -= set(atom_scores(kind, text, slop))
        for d in matched:
            totals[d] = totals.get(d, 0.0) + sum(p[d] for p in parts)
    for kind, text, slop, _ in global_neg:
        for d in atom_scores(kind, text, slop):
            totals.pop(d, None)
    ranked = sorted(totals.items(), key=lambda t: (-t[1], t[0]))
    return ranked[:k]


def completion_suggest(
    reader: IndexReader,
    prefix: str,
    size: int = 5,
) -> list[tuple[str, int]]:
    """ES completion suggester ({"suggest": {"c": {"prefix": ...,
    "completion": {"field": ...}}}}): prefix-matched dictionary entries
    ranked by weight — here document frequency, ES's default when no
    explicit weight is indexed — desc, then term asc (the completion
    tie-break). Lucene serves this from an FST; the columnar analogue is
    the row-group-pruned range seek ``expand_prefix`` runs over the
    generations' term-sorted dict parquet; weights are the
    generation-summed dictionary dfs (``_global_dfs``). Returns (term,
    weight) pairs."""
    terms = reader.expand_prefix(prefix.lower(), max_expansions=None)
    if not terms:
        return []
    dfs = _global_dfs(reader, terms)
    ranked = sorted(dfs.items(), key=lambda t: (-t[1], t[0]))
    return [(t, int(w)) for t, w in ranked[:size]]


def terms_lookup(
    reader: IndexReader,
    lookup_doc_id: int,
    field: str = "content",
    k: int | None = None,
    live: np.ndarray | None = None,
    max_terms: int | None = None,
) -> list[int]:
    """ES terms-lookup query ({"terms": {"content": {"index": ..., "id":
    ..., "path": "content"}}}): the terms list is fetched from ANOTHER
    document's stored ``_source`` (a point read of its live row through
    ``reader.stored_fields``, in the reader's id space — requires a
    ``store_source=True`` index, exactly like ES requires the lookup field
    in ``_source``), analyzed with the same analyzer as the index, then
    executed as a constant-score terms query (one multi-term posting
    fetch, doc_id order). The lookup doc itself matches, as in ES. A
    lookup doc that is not live, or has no stored ``field``, matches
    nothing.

    ``max_terms`` is the analogue of ES's ``index.max_terms_count``
    safeguard (ES hard-errors past 65536 lookup terms); instead of
    erroring, an over-long terms list is capped to the ``max_terms`` MOST
    SELECTIVE terms (dictionary df asc, term asc — a deliberate deviation
    from ES's rejection, chosen so capped lookups stay useful: the rare
    terms are the ones that carry the lookup's meaning)."""
    row = reader.stored_fields([int(lookup_doc_id)], [field])
    text = row[field][0].as_py() if row.num_rows and field in row.column_names else None
    if text is None:
        return []
    terms = sorted(set(tokenize_text(text)))
    if max_terms is not None and len(terms) > max_terms:
        # generation-summed dictionary dfs; unindexed terms (noindex/ignore_above mappings)
        # match nothing, so they never compete for cap slots
        dfs = _global_dfs(reader, terms)
        ranked = sorted((df, t) for t, df in dfs.items())
        terms = sorted(t for _, t in ranked[:max_terms])
    return _expansion_docs(reader, terms, live)[: k if k is not None else None]


def explain_score(
    reader: IndexReader,
    query: str,
    doc_id: int | None = None,
) -> list[dict]:
    """ES explain API (`GET /_explain/{id}`): the per-term BM25 breakdown
    for one document — term, tf, df, idf, and the term's score
    contribution, exactly the numbers the scorers sum. ``doc_id=None``
    explains the TOP LIVE hit (the reader's liveDocs applies, as in
    every query entry point). On a generational index a re-upserted
    doc_id resolves to its LATEST live slot — the version queries actually
    score — never a superseded one. Float ops mirror TermAtATimeScorer
    bit-for-bit (same formula, same order), so an oracle recomputing the
    formula in SQL agrees to the last bit. Returns [] for a doc that
    matches no query term (ES: "no matching term")."""
    terms = sorted(set(tokenize_text(query)))
    if not terms:
        return []
    live = reader._live
    if doc_id is None:
        top = TermAtATimeScorer(reader).score(query, 1, live=live)
        if not top:
            return []
        doc_id = top[0][0]
    doc_len, doc_ids = reader.doc_arrays()
    slots = np.nonzero(doc_ids == doc_id)[0]
    if slots.size == 0:
        raise KeyError(f"doc_id {doc_id} not in index")
    if live is not None:
        slots = slots[live[slots]]
        if slots.size == 0:
            raise KeyError(f"doc_id {doc_id} is deleted/superseded")
    # slots order follows generation order — the last one is the live
    # latest version when duplicates exist
    slot = int(slots[-1])
    dl = float(doc_len[slot])
    out = []
    for term, (docs, tfs) in sorted(reader.fetch_postings(terms).items()):
        df = len(docs)
        pos = np.nonzero(docs == slot)[0]
        if pos.size == 0:
            continue  # term not in this doc
        tf = float(tfs[pos[0]])
        idf = reader.idf(df)
        contrib = idf * (tf / (tf + reader.k1 * (1.0 - reader.b + reader.b * dl / reader.avg_dl)))
        out.append({
            "term": term, "tf": int(tf), "df": df,
            "idf": round(idf, 6), "contribution": round(contrib, 6),
        })
    return out


def collapse_topk(
    reader: IndexReader,
    query: str,
    collapse_ids: np.ndarray,
    k: int = 10,
    live: np.ndarray | None = None,
) -> list[tuple[int, int, float]]:
    """ES field collapsing ({"collapse": {"field": ...}}): top-k hits
    keeping only the BEST-scoring document per collapse-key group (e.g.
    one result per repo/domain — the search-dedup every portal applies).
    ``collapse_ids``: per-slot int codes of the collapse field (doc_idx
    order, from the docs store). Returns (doc_id, collapse_id, score) in
    (score desc, doc_id asc) order. Scoring = the exhaustive TATA pass
    (``live`` defaults to the reader's liveDocs); the collapse itself is a
    first-wins walk of the ranked hits that STOPS once k groups are filled
    — a later hit can only join an existing group (and lose to its
    earlier, higher-or-tied first hit) or open a group that ranks below
    the current k-th, so early exit is exact. Driver state is O(hits
    walked), never an O(corpus) map (hit→slot lookups go through one
    sorted view of doc_ids). At scale the same shape runs as a window
    partitioned by the collapse key over the distributed scorer output."""
    if live is None:
        live = reader._live
    hits = TermAtATimeScorer(reader).score(query, k=len(collapse_ids), live=live)
    if not hits:
        return []
    _dl, doc_ids = reader.doc_arrays()
    order = np.argsort(doc_ids, kind="stable")
    sorted_ids = doc_ids[order]
    hit_ids = np.array([d for d, _ in hits], dtype=np.int64)
    lo = np.searchsorted(sorted_ids, hit_ids, side="left")
    hi = np.searchsorted(sorted_ids, hit_ids, side="right")
    best: dict[int, tuple[int, float]] = {}
    for i, (d, s) in enumerate(hits):
        # duplicate doc_ids exist on generational readers (superseded
        # slots); take the latest LIVE slot — slot numbers grow with
        # generation, so max of the live candidates is the served version
        cands = order[lo[i]:hi[i]]
        if live is not None and cands.size > 1:
            alive = cands[live[cands]]
            cands = alive if alive.size else cands
        slot = int(cands.max())
        cid = int(collapse_ids[slot])
        if cid not in best:
            best[cid] = (d, s)
            if len(best) >= k:
                break  # exact: see docstring
    ranked = sorted(best.items(), key=lambda kv: (-kv[1][1], kv[1][0]))[:k]
    return [(d, cid, s) for cid, (d, s) in ranked]


def fielded_norms_topk(
    reader: IndexReader,
    terms: list[str],
    k: int = 10,
    live: np.ndarray | None = None,
    boosts: dict[str, float] | None = None,
) -> list[tuple[int, float]]:
    """Per-FIELD-norms BM25 over a fielded index — ES's actual multi-field
    scoring model (Lucene BM25Similarity per field): each ``field:term``
    clause normalizes tf by THAT field's doc length and average length,
    and idf uses the field's docCount, not the corpus total. Contrast with
    ``TermAtATimeScorer.score(terms=...)``, which scores qualified terms
    against the combined document length (a valid, documented spec of its
    own — both ship, both oracle-twinned).

    Requires a build whose docs/ carries dl_<field> columns and whose
    stats.json carries field_stats (field_analyzers builds do, round 4+).
    Works over generational indexes too: ``field_stats`` merges the
    generations' stats, and ``field_dl_arrays`` reads the generations' dl
    columns onto slots. A term's df is its posting count. Accumulation mirrors TATA: sorted-term order, ``_accumulate``, same
    tie-exact top-k.

    ``boosts``: per-field score multipliers — ES ``fields: ["title^2",
    "body"]`` syntax / the BM25F field-weight model. Missing fields boost
    1.0. Use exact binary floats (2.0, 0.5, 0.25) when the result feeds a
    bit-exact oracle comparison."""
    field_stats = reader.field_stats()
    if not field_stats:
        raise ValueError(
            "per-field norms need a field_analyzers build with field_stats "
            "(rebuild with round-4+ build_index)"
        )
    if live is None:
        live = reader._live
    terms = sorted(set(terms))
    if not terms:
        return []
    _dl, doc_ids = reader.doc_arrays()
    need = {t.split(":", 1)[0] for t in terms}
    missing = need - set(field_stats)
    if missing:
        raise ValueError(f"fields not in the index mapping: {sorted(missing)}")
    fdl = reader.field_dl_arrays(sorted(need))
    postings = reader.fetch_postings(terms)
    parts = []
    for term in terms:
        if term not in postings:
            continue
        fld = term.split(":", 1)[0]
        st = field_stats[fld]
        n_f, avg_f = int(st["n"]), float(st["avg_dl"])
        docs, tfs = postings[term]
        df = len(docs)
        idf = math.log(1.0 + (n_f - df + 0.5) / (df + 0.5))
        boost = float(boosts.get(fld, 1.0)) if boosts else 1.0
        parts.append((docs, _bm25(reader, boost * idf, tfs, fdl[fld][docs], avg_f), True))
    slots, scores = _accumulate(parts, 0, live)
    return _select_topk(scores, doc_ids[slots], k)


def rescore_topk(
    reader: IndexReader,
    query: str,
    phrase: list[str],
    window: int = 50,
    k: int = 10,
    query_weight: float = 1.0,
    rescore_weight: float = 1.0,
) -> list[tuple[int, float]]:
    """ES rescore API (``rescore.window_size``, score_mode=total): a cheap
    BM25 pass ranks the corpus, then ONLY the top-``window`` candidates are
    re-scored with a more expensive signal — here an exact phrase-occurrence
    count over the stored ``_source`` — and merged as
    ``query_weight * base + rescore_weight * phrase_tf``.

    This is ES's exact cost contract at 100 TB: the expensive scorer's
    work is bounded by the window (the window's text is one
    ``reader.stored_fields`` read of ≤window docs in the driver, the fetch
    phase of a request), never by the corpus. Requires a ``store_source``
    build. Ties break (score desc, doc_id asc) like every other entry
    point."""
    base = TermAtATimeScorer(reader).score(query, window, live=reader._live)
    if not base:
        return []
    src = reader.stored_fields([d for d, _s in base], ["content"])
    if "content" not in src.column_names:
        raise ValueError("rescore reads the stored _source: it needs a store_source=True build")
    texts = dict(zip(src["_rid"].to_pylist(), src["content"].to_pylist()))
    want = [t.lower() for t in phrase]
    n = len(want)
    out = []
    for d, s in base:
        toks = tokenize_text(texts.get(int(d)) or "")
        ptf = sum(
            1 for i in range(len(toks) - n + 1) if toks[i : i + n] == want
        )
        out.append((int(d), query_weight * s + rescore_weight * float(ptf)))
    out.sort(key=lambda t: (-t[1], t[0]))
    return out[:k]


def function_score_topk(
    reader: IndexReader,
    query: str,
    k: int = 10,
    live: np.ndarray | None = None,
) -> list[tuple[int, float]]:
    """ES function_score with ``field_value_factor`` (modifier ``ln1p``,
    multiply boost_mode): final = BM25 * ln(1 + doc_len) over EVERY
    matching doc — unlike rescore, the function is part of the query, so
    the multiplier can promote any match into the top-k and the whole
    match set is scored (ES does the same; the factor field here is the
    indexed document length, already in the doc arrays every scorer holds
    — no extra fetch). Vectorized end-to-end; ties (score desc, doc_id
    asc)."""
    r = reader
    if live is None:
        live = r._live
    base = TermAtATimeScorer(r).score(query, int(r.n_docs) or 1, live=live)
    if not base:
        return []
    doc_len, doc_ids = r.doc_arrays()
    order = np.argsort(doc_ids, kind="stable")
    sorted_ids = doc_ids[order]
    ds = np.fromiter((d for d, _ in base), dtype=np.int64, count=len(base))
    ss = np.fromiter((s for _, s in base), dtype=np.float64, count=len(base))
    dl = doc_len[order[np.searchsorted(sorted_ids, ds)]]
    final = ss * np.log1p(dl)
    top = np.lexsort((ds, -final))[:k]
    return [(int(ds[i]), float(final[i])) for i in top]


def more_like_this_topk(
    reader: IndexReader,
    like_text: str,
    k: int = 10,
    max_query_terms: int = 25,
    exclude: tuple[int, ...] | set[int] = (),
    live: np.ndarray | None = None,
) -> list[tuple[int, float]]:
    """ES more_like_this over free text (or a stored document's content —
    the caller fetches it, get_docs-style): select the ``max_query_terms``
    most interesting terms by tf·idf (score desc, term asc — ES's own
    selection heuristic with the tie-break pinned) and run them as a
    bool/should TATA query, dropping ``exclude`` (the like-document
    itself, ES's default) from the hits.

    df for selection comes from each candidate term's posting length —
    identical to the dictionary df (postings carry one entry per doc) and,
    on generational indexes, to Lucene's stats-count-tombstones-until-
    merge semantics — so selection costs ONE pushed-down multi-term fetch,
    no dictionary scan."""
    r = reader
    if live is None:
        live = r._live
    tf: dict[str, int] = {}
    for t in tokenize_text(like_text):
        tf[t] = tf.get(t, 0) + 1
    if not tf:
        return []
    postings = r.fetch_postings(sorted(tf))
    scored = sorted(
        ((tf[t] * r.idf(len(postings[t][0])), t) for t in tf if t in postings),
        key=lambda x: (-x[0], x[1]),
    )
    terms = [t for _s, t in scored[:max_query_terms]]
    if not terms:
        return []
    ex = {int(e) for e in exclude}
    hits = TermAtATimeScorer(r).score(terms=terms, k=k + len(ex), live=live)
    return [(d, s) for d, s in hits if d not in ex][:k]


def count_match(
    reader: IndexReader,
    query: str,
    mode: str = "or",
    live: np.ndarray | None = None,
) -> int:
    """ES ``_count`` API: how many live docs match, no scoring, no fetch —
    one multi-term posting fetch, a distinct-slot union (OR) or
    per-doc match-count filter (AND), and the liveDocs mask. The cheapest
    query shape there is; at scale the same answer falls out of the
    segment metadata (sum of df) when the query is a single term with no
    deletes, but the general path here is exact under tombstones."""
    r = reader
    if live is None:
        live = r._live
    terms = sorted(set(tokenize_text(query)))
    if not terms:
        return 0
    postings = r.fetch_postings(terms)
    if not postings:
        return 0
    if mode == "and" and len(postings) < len(terms):
        return 0
    slots = np.concatenate([p[0] for p in postings.values()])
    uniq, counts = np.unique(slots, return_counts=True)
    if mode == "and":
        uniq = uniq[counts >= len(terms)]
    if live is not None and uniq.size:
        uniq = uniq[live[uniq]]
    return int(uniq.size)


def msearch(
    reader: IndexReader,
    queries: list[str],
    k: int = 10,
    live: np.ndarray | None = None,
) -> list[list[tuple[int, float]]]:
    """ES _msearch API: N independent searches answered in one call. The
    serving-node win is amortization — one reader (arrays, dict, liveness)
    serves every subquery; at the Spark layer the same batching folds N
    queries' term fetches into one ``term IN (...)`` pushdown scan."""
    if live is None:
        live = reader._live
    return [TermAtATimeScorer(reader).score(q, k, live=live) for q in queries]


def terms_set_topk(
    reader: IndexReader,
    terms: list[str],
    min_match: int,
    k: int = 10,
    live: np.ndarray | None = None,
) -> list[tuple[int, float]]:
    """ES terms_set query: docs matching at least ``min_match`` DISTINCT
    terms of the list qualify; each qualifying doc scores the sum of its
    matched terms' BM25 contributions (bool/should scoring behind a
    minimum_should_match gate). One multi-term posting fetch; the
    distinct-match count and score both fall out of one segmented pass
    over the concatenated postings."""
    r = reader
    if live is None:
        live = r._live
    want = sorted({t for q in terms for t in tokenize_text(q)})
    if not want:
        return []
    doc_len, doc_ids = r.doc_arrays()
    postings = r.fetch_postings(want)
    if len(postings) == 0:
        return []
    parts = []
    for term in sorted(postings):
        docs, tfs = postings[term]
        idf = r.idf(len(docs))
        parts.append((docs, _bm25(r, idf, tfs, doc_len[docs], r.avg_dl), True))
    # postings are distinct per term, so a doc's count is its distinct matches
    slots, scores = _accumulate(parts, int(min_match), live)
    return _select_topk(scores, doc_ids[slots], k)
