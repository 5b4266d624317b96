"""The pinned posting store: pinned and unpinned readers answer
``/_search`` bodies identically, a generational store holds each
generation's postings at its slot base exactly as a pandas read of the
parquet gives them, a positional re-pin serves phrase requests without
Spark, fetched postings equal a per-term pandas reference and the
``bincount`` accumulate is bit-identical to its ``np.add.at`` reference.
The fetch phase (stored fields, request aggs, stored-field sorts) read in
the driver equals the Spark plans it replaced, kept here as references."""

import json
import os
import time

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
import pytest

from search_replica_spark.config import IndexConfig
from search_replica_spark.corpus import generate_corpus
from search_replica_spark.index.build import build_index
from search_replica_spark.query.bm25 import IndexReader, _accumulate, _bm25, phrase_topk
from search_replica_spark.query.dsl import execute_request
from search_replica_spark.streaming.incremental import MultiGenReader, add_generation

CFG = IndexConfig(
    shuffle_partitions=4, store_positions=True, store_source=True
)


@pytest.fixture(scope="module")
def corpus():
    return generate_corpus(300)


@pytest.fixture(scope="module")
def plain_index(spark, corpus, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("pin_plain"))
    build_index(spark, spark.createDataFrame(corpus), out, CFG)
    return out


@pytest.fixture(scope="module")
def multigen_index(spark, corpus, tmp_path_factory):
    """Three generations: a first batch, a second batch, then a batch that
    updates two docs of the first and tombstones a third."""
    out = str(tmp_path_factory.mktemp("pin_mg"))
    add_generation(spark, spark.createDataFrame(corpus.iloc[:150]), out, CFG)
    add_generation(spark, spark.createDataFrame(corpus.iloc[150:]), out, CFG)
    upd = corpus.iloc[[4, 7]].copy()
    upd["content"] = upd["content"] + " license apache license"
    upd["_change_type"] = "update"
    dele = corpus.iloc[[11]].copy()
    dele["_change_type"] = "delete"
    add_generation(spark, spark.createDataFrame(pd.concat([upd, dele])), out, CFG)
    return out


def _match(text, op="or", **extra):
    return {"query": {"match": {"content": {"query": text, "operator": op}}}, **extra}


def _answer(reader, body):
    resp = execute_request(reader, body)
    return (
        [(h["_id"], h["_score"]) for h in resp["hits"]["hits"]],
        resp["hits"]["total"]["value"],
    )


def _bodies(reference):
    """The body set, with min_score and search_after cursors taken from
    the reference reader's own answers (so they cut inside the match set)."""
    bodies = [
        _match("license apache"),
        _match("license apache", size=100),
        _match("def return", "and"),
        _match("def return", "and", size=100),
        _match("the license", size=10, **{"from": 5}),
        _match("zzqqabsentqq"),
        _match("license zzqqabsentqq", "and"),
        _match("license zzqqabsentqq"),
        _match("def return", sort=["_doc"]),
    ]
    hits, _total = _answer(reference, _match("license apache", size=100))
    assert len(hits) > 30
    bodies.append(_match("license apache", size=100, min_score=hits[25][1]))
    d, s = hits[9]
    bodies.append(_match("license apache", size=10, search_after=[s, d]))
    doc_hits, _ = _answer(reference, _match("def return", sort=["_doc"]))
    bodies.append(_match("def return", sort=["_doc"], search_after=[doc_hits[4][0]]))
    return bodies


def _spark_jobs(spark, fn):
    """(fn's result, the ids of the Spark jobs it started)."""
    sc = spark.sparkContext
    gid = f"no-spark-{time.monotonic_ns()}"
    sc.setJobGroup(gid, gid)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, list(sc.statusTracker().getJobIdsForGroup(gid))


def test_pinned_and_unpinned_serving_identical(spark, plain_index, multigen_index):
    """Every reader kind answers the same /_search bodies identically
    pinned and unpinned, and a pinned request starts no Spark job: a plain
    reader and a generational reader over an update and a tombstone."""
    plain = IndexReader(spark, plain_index)
    bodies = _bodies(plain)
    mg = MultiGenReader(spark, multigen_index)
    assert len(mg.gens) == 3 and mg.gens[2]["deleted_ids"]
    assert len(mg) < mg.n_docs  # superseded and tombstoned slots
    for ref, pinned in ((plain, IndexReader(spark, plain_index).pin_driver()),
                        (mg, MultiGenReader(spark, multigen_index).pin_driver())):
        pinned.doc_arrays()
        for body in bodies:
            got, jobs = _spark_jobs(spark, lambda: _answer(pinned, body))
            assert jobs == [] and got == _answer(ref, body), body


def _postings_pandas(reader, gen_dir, positions=False):
    """One generation's postings rows and its dictionary, read with pandas
    straight from the parquet files (the reference for the stores)."""
    rows = pq.read_table(os.path.join(gen_dir, "postings")).to_pandas()
    dic = pq.read_table(os.path.join(gen_dir, "dict")).to_pandas()
    return rows.sort_values(["term_id", "doc_idx"]).reset_index(drop=True), dic


def test_multigen_remap_bit_identical_to_pandas(spark, multigen_index):
    """The pinned generational store keeps one part per generation whose
    slots are the generation's doc_idx plus its slot base and whose term
    ranges are the dictionary's [start, start + df), bit for bit against
    a pandas read of each generation's parquet."""
    mg = MultiGenReader(spark, multigen_index).pin_driver(positions=True)
    store = mg._pinned
    assert len(store.parts) == len(mg.live_gens) == 3
    for part, g in zip(store.parts, mg.live_gens):
        rows, dic = _postings_pandas(mg, g["dir"])
        want = (rows["doc_idx"] + mg.bases[g["gen"]]).to_numpy(np.int32)
        assert part.docs.dtype == np.int32 and part.docs.tobytes() == want.tobytes()
        assert part.tfs.tobytes() == rows["tf"].to_numpy(np.int32).tobytes()
        flat = np.concatenate([np.asarray(p, np.int32) for p in rows["positions"]])
        assert part.pos.tobytes() == flat.tobytes()
        assert {t: part.span(t) for t in part.index} == {
            t: (s, s + n) for t, s, n in zip(dic["term"], dic["start"], dic["df"])
        }


def test_positions_repin_serves_phrases_without_spark(spark, plain_index):
    """pin_driver(positions=True) after a position-less pin upgrades the
    store, so a match_phrase request starts no Spark job."""
    r = IndexReader(spark, plain_index)
    r.doc_arrays()
    r.pin_driver()
    assert not r._pinned.positions
    r.pin_driver(positions=True)
    assert r._pinned.positions
    body = {"query": {"match_phrase": {"content": "apache license"}}, "size": 10}
    resp, jobs = _spark_jobs(spark, lambda: execute_request(r, body))
    assert resp["hits"]["total"]["value"] > 0
    assert jobs == []
    want = execute_request(IndexReader(spark, plain_index), body)
    assert resp == want


def test_unpinned_requests_and_expansions_run_no_spark_job(
    spark, plain_index, multigen_index, fielded_indexes
):
    """On plain and generational readers, none of them pinned,
    match, bool and match_phrase requests, every term-expanding query
    (prefix capped and uncapped, fuzzy, wildcard, regexp,
    match_phrase_prefix, completion, and range and exists on a keyword
    field) and the fetch phase (highlight, every flat agg kind, stored-field
    sorts, more_like_this by _id and the terms lookup) read the index
    parquet in the driver and start no Spark job."""
    from search_replica_spark.query.bm25 import completion_suggest

    def q(kind, **spec):
        return {"query": {kind: spec}, "size": 100}

    def fetch_bodies(r):
        doc = int(r._live_docs().drop_dead(r.doc_arrays()[1])[0])  # a doc r holds live
        aggs = {"langs": {"terms": {"field": "lang"}}, "dl": {"stats": {"field": "doc_len"}},
                "lo": {"min": {"field": "doc_len"}}, "hi": {"max": {"field": "path"}},
                "sum": {"sum": {"field": "doc_len"}}, "avg": {"avg": {"field": "doc_len"}},
                "n": {"value_count": {"field": "lang"}},
                "nlang": {"cardinality": {"field": "lang"}},
                "hist": {"histogram": {"field": "doc_len", "interval": 20}}}
        return [
            _match("license apache", highlight={"fields": {"content": {}}}),
            _match("license", size=0, aggs=aggs),
            {"size": 0, "aggs": aggs},
            _match("license", sort=[{"doc_len": {"order": "desc"}}], **{"from": 10}),
            _match("license", sort=[{"path": {"order": "asc"}}]),
            q("more_like_this", like={"_id": doc}),
            q("terms", content={"index": "self", "id": doc, "path": "content"}),
        ]

    text_bodies = [
        _match("license apache"),
        _match("def return", "and"),
        {"query": {"bool": {"must": [{"match": {"content": "license"}}],
                            "should": [{"match": {"content": "apache"}}],
                            "must_not": [{"match": {"content": "return"}}]}}},
        q("match_phrase", content="apache license"),
        q("prefix", content="lic"),
        q("prefix", content={"value": "s", "max_expansions": None}),
        q("fuzzy", content={"value": "licence"}),
        q("wildcard", content="lic*se"),
        q("regexp", content="lic.*"),
        q("match_phrase_prefix", content="apache lic"),
    ]
    keyword_bodies = [
        q("range", lang={"gte": "go", "lte": "py"}),
        q("exists", field="lang"),
    ]

    fielded, fielded_gens = fielded_indexes
    cases = [
        ("plain", lambda: IndexReader(spark, plain_index), text_bodies),
        ("multigen", lambda: MultiGenReader(spark, multigen_index), text_bodies),
        ("fielded plain", lambda: IndexReader(spark, fielded), keyword_bodies),
    ]
    cases.append(("fielded multigen", lambda: MultiGenReader(spark, fielded_gens),
                  keyword_bodies))
    for label, make, bodies in cases:
        r = make()
        for body in bodies + (fetch_bodies(r) if bodies is text_bodies else []):
            resp, jobs = _spark_jobs(spark, lambda: execute_request(r, body))
            assert jobs == [], (label, body)
            assert resp["hits"]["total"]["value"] > 0, (label, body)
        if bodies is text_bodies:
            suggested, jobs = _spark_jobs(spark, lambda: completion_suggest(r, "li"))
            assert jobs == [] and suggested, label


# --- fetch and accumulate ---------------------------------------------

TERM_SETS = [
    ["license"],
    ["apache", "license"],
    ["def", "license", "return", "the"],
    ["license", "zzqqabsentqq"],
    ["zzqqabsentqq"],
]


def _readers(spark, plain_index, multigen_index):
    """(label, reader) for a plain and a generational reader, each
    unpinned and pinned."""
    makers = {
        "plain": lambda: IndexReader(spark, plain_index),
        "multigen": lambda: MultiGenReader(spark, multigen_index),
    }
    for label, make in makers.items():
        yield f"{label} unpinned", make()
        yield f"{label} pinned", make().pin_driver()


def _fetch_postings_per_term(reader, terms):
    """A per-term pandas reference for fetch_postings: each live
    generation's rows of the term read from parquet, shifted to its slots,
    concatenated in generation order."""
    out = {}
    for term in sorted(set(terms)):
        docs, tfs = [], []
        for gen in reader.live_gens:
            rows, dic = _postings_pandas(reader, gen["dir"])
            ids = dic.loc[dic["term"] == term, "term_id"].tolist()
            g = rows[rows["term_id"].isin(ids)]
            docs.append(g["doc_idx"].to_numpy(np.int64) + reader.bases[gen["gen"]])
            tfs.append(g["tf"].to_numpy(np.int64))
        if sum(x.size for x in docs):
            out[term] = (np.concatenate(docs), np.concatenate(tfs))
    return out


def _accumulate_add_at(parts, need=0, live=None):
    """The np.add.at accumulate _accumulate replaced, kept as the reference."""
    if not parts:
        return np.empty(0, np.int64), np.empty(0, np.float64)
    uniq, inv = np.unique(np.concatenate([p[0] for p in parts]), return_inverse=True)
    sums = np.zeros(uniq.size, dtype=np.float64)
    np.add.at(sums, inv, np.concatenate([p[1] for p in parts]))
    matched = np.ones(uniq.size, dtype=bool)
    if need:
        counted = np.concatenate([np.full(p[0].size, p[2]) for p in parts])
        matched = np.bincount(inv, weights=counted, minlength=uniq.size) >= need
    if live is not None:
        matched &= live[uniq]
    return uniq[matched], sums[matched]


def _assert_accumulate_identical(parts, need, live):
    slots, sums = _accumulate(parts, need, live)
    want_slots, want_sums = _accumulate_add_at(parts, need, live)
    assert slots.dtype == want_slots.dtype and np.array_equal(slots, want_slots)
    assert sums.dtype == np.float64 and sums.tobytes() == want_sums.tobytes()
    assert (slots[1:] > slots[:-1]).all()  # unique and slot-ascending


def test_single_decode_fetch_postings_equals_per_term_decode(
    spark, plain_index, multigen_index
):
    """fetch_postings slices every term out of the store with no decode;
    its int32 slots and tfs equal a per-term pandas read of the parquet on
    every reader, pinned and not, and the slots ascend."""
    for label, r in _readers(spark, plain_index, multigen_index):
        for terms in TERM_SETS:
            got = r.fetch_postings(terms)
            want = _fetch_postings_per_term(r, terms)
            assert list(got) == list(want), (label, terms)
            for term, (docs, tfs) in got.items():
                wd, wt = want[term]
                assert docs.dtype == tfs.dtype == np.int32, (label, term)
                assert np.array_equal(docs, wd) and np.array_equal(tfs, wt), (label, term)
                assert (np.diff(docs) > 0).all(), (label, term)


def test_bincount_accumulate_bit_identical_to_add_at(spark, plain_index, multigen_index):
    """_accumulate (bincount) equals the np.add.at reference bit for bit on
    the parts every reader yields; its output is unique and slot-ascending."""
    for _label, r in _readers(spark, plain_index, multigen_index):
        doc_len, _ids = r.doc_arrays()
        live = getattr(r, "_live", None)
        for terms in TERM_SETS:
            post = r.fetch_postings(terms)
            parts = [
                (d, _bm25(r, r.idf(max(1, len(d))), tf, doc_len[d], r.avg_dl), i % 2 == 0)
                for i, (d, tf) in enumerate(post[t] for t in sorted(post))
            ]
            for need in (0, 1, len(parts)):
                _assert_accumulate_identical(parts, need, live)
                _assert_accumulate_identical(parts, need, None)


def test_accumulate_single_part_not_ascending():
    """One part whose slots repeat or descend, and a -0.0 contribution:
    the output stays unique, slot-ascending and equal to the reference."""
    rng = np.random.default_rng(7)
    for slots in (np.array([5, 3, 3, 9, 0]), rng.integers(0, 50, 200), np.array([2, 2])):
        contrib = rng.random(slots.size)
        for counted, need in ((True, 1), (False, 1), (False, 0)):
            _assert_accumulate_identical([(slots, contrib, counted)], need, None)
    _assert_accumulate_identical([(np.array([4]), np.array([-0.0]), True)], 1, None)


# --- reader set-up read in the driver -------------------------------------


def _doc_arrays_spark(spark, r):
    """The Spark collect doc_arrays() replaced, kept as the reference: each
    live generation's docs, toPandas, slot order."""
    parts = []
    for g in r.live_gens:
        pdf = spark.read.parquet(f"{g['dir']}/docs").select("doc_idx", "doc_id", "doc_len").toPandas()
        pdf["slot"] = pdf["doc_idx"] + r.bases[g["gen"]]
        parts.append(pdf)
    pdf = pd.concat(parts).sort_values("slot")
    return pdf["doc_len"].to_numpy(np.float64), pdf["doc_id"].to_numpy(np.int64)


def _scan_store(spark, r, positions, terms=None):
    """The Spark-built store the driver reads replaced, kept as the
    reference: one Spark scan over the reader's generations of the
    postings rows of ``terms`` (every row when None) — ``term_id IN
    (...)`` with the ids from each generation's dictionary — collected
    with ``toArrow()`` and cut into one part per generation."""
    from functools import reduce

    import pyarrow.compute as pc
    from pyspark.sql import DataFrame
    from pyspark.sql import functions as F

    from search_replica_spark.query.store import Postings, PostingStore, read_table

    positions = positions and r.positions_stored
    scans, gens = [], []
    for g in r.live_gens:
        d = g["dir"]
        flt = () if terms is None else (("term", "in", sorted(set(terms))),)
        dic = read_table(os.path.join(d, "dict"), ["term", "term_id"], flt)
        ids = dic["term_id"].to_pylist()
        q = spark.read.parquet(os.path.join(d, "postings"))
        if terms is not None:
            q = q.filter(F.col("term_id").isin(ids) if ids else F.lit(False))
        cols = ["term_id", "doc_idx", "tf"] + (["positions"] if positions else [])
        scans.append(q.select(*cols, F.lit(len(gens)).alias("g")))
        gens.append((dict(zip(ids, dic["term"].to_pylist())), r.bases[g["gen"]]))
    if not scans:
        return PostingStore([], positions)
    t = reduce(DataFrame.unionByName, scans).toArrow().sort_by(
        [("g", "ascending"), ("term_id", "ascending"), ("doc_idx", "ascending")])
    cuts = np.searchsorted(t["g"].to_numpy(), np.arange(len(gens) + 1))
    parts = []
    for i, (terms_by_id, offset) in enumerate(gens):
        s = t.slice(cuts[i], cuts[i + 1] - cuts[i])
        pos = pc.list_flatten(s["positions"]).to_numpy() if positions else None
        parts.append(Postings.from_rows(
            terms_by_id, s["term_id"].to_numpy(), s["doc_idx"].to_numpy(),
            s["tf"].to_numpy(), pos, offset))
    return PostingStore(parts, positions)


def _assert_same_store(got, want):
    assert got.positions == want.positions
    assert got.rows == want.rows
    assert len(got.parts) == len(want.parts)
    for g, w in zip(got.parts, want.parts):
        assert {t: g.span(t) for t in g.index} == {t: w.span(t) for t in w.index}
        for name in ("docs", "tfs", "pos"):
            a, b = getattr(g, name), getattr(w, name)
            assert (a is None) == (b is None), name
            if a is not None:
                assert a.dtype == b.dtype and a.tobytes() == b.tobytes(), name


def _term_absent_from_a_generation(reader):
    """A term of the first generation's dictionary that the last one lacks."""
    gens = reader.live_gens
    first, last = (set(pq.read_table(os.path.join(g["dir"], "dict"), columns=["term"])
                       .column("term").to_pylist()) for g in (gens[0], gens[-1]))
    term = min(first - last)
    assert term and term not in last
    return term


def _term_spanning_two_parts(index_dir):
    """A term whose postings rows run across a part-file boundary."""
    from search_replica_spark.index.manifest import part_files

    sizes = [pq.ParquetFile(p).metadata.num_rows
             for p in part_files(os.path.join(index_dir, "postings"))]
    dic = pq.read_table(os.path.join(index_dir, "dict")).to_pandas()
    start, end = dic["start"].to_numpy(), (dic["start"] + dic["df"]).to_numpy()
    spans = np.zeros(len(dic), bool)
    for cut in np.cumsum(sizes)[:-1]:
        spans |= (start < cut) & (end > cut)
    assert spans.any()
    return dic["term"][spans].iloc[0]


def test_driver_read_set_up_equals_spark_reference(spark, plain_index, multigen_index):
    """The doc arrays and the pinned store read from parquet in the driver
    are bit-identical to the Spark-built ones (the toPandas docs collect,
    and the store built from the Spark postings scan), with and without
    positions, on every reader kind. So is the store an unpinned request
    reads for its terms: a term held by some generations only, and a term
    absent from the index, included."""
    partial = _term_absent_from_a_generation(MultiGenReader(spark, multigen_index))
    term_sets = (["apache", "license"], [partial, "def", "zzqqabsentqq"], ["zzqqabsentqq"])
    for label, make in (("plain", lambda: IndexReader(spark, plain_index)),
                        ("multigen", lambda: MultiGenReader(spark, multigen_index))):
        r = make()
        dl, ids = r.doc_arrays()
        want_dl, want_ids = _doc_arrays_spark(spark, r)
        assert dl.dtype == want_dl.dtype and dl.tobytes() == want_dl.tobytes(), label
        assert ids.dtype == want_ids.dtype and ids.tobytes() == want_ids.tobytes(), label
        for positions in (False, True):
            got = make().pin_driver(positions=positions)._pinned
            want = _scan_store(spark, r, positions)
            assert got.rows > 0, label
            _assert_same_store(got, want)
            for terms in term_sets:
                _assert_same_store(r._read_store(positions, terms),
                                   _scan_store(spark, r, positions, terms))
        # the position upgrade of a plain pin reads the same store
        up = make().pin_driver().pin_driver(positions=True)._pinned
        _assert_same_store(up, _scan_store(spark, r, True))


def test_driver_read_position_less_index_asked_for_positions(spark, small_index):
    """An index built without positions, pinned with positions=True, pins
    the same position-less store as the Spark scan, and a phrase query on
    it still raises the no-positions error. On this 8-part index a term
    whose rows cross a part-file boundary reads the same store as the
    Spark scan."""
    idx, _stats = small_index
    r = IndexReader(spark, idx).pin_driver(positions=True)
    want = _scan_store(spark, r, True)
    assert not want.positions
    _assert_same_store(r._pinned, want)
    span = _term_spanning_two_parts(idx)
    for terms in ([span], [span, "license", "zzqqabsentqq"]):
        got = IndexReader(spark, idx)._read_store(True, terms)
        _assert_same_store(got, _scan_store(spark, r, True, terms))
        assert got.select([span])[span][0].size == r._pinned.select([span])[span][0].size
    with pytest.raises(ValueError, match="positional index"):
        phrase_topk(r, "apache license", 5)


def test_reader_set_up_runs_no_spark_job(spark, plain_index, corpus, tmp_path):
    """doc_arrays() + pin_driver() on a plain reader and a
    single-generation MultiGenReader start no Spark job."""
    one_gen = str(tmp_path / "one_gen")
    add_generation(spark, spark.createDataFrame(corpus.iloc[:100]), one_gen, CFG)
    sc = spark.sparkContext
    for i, make in enumerate((
        lambda: IndexReader(spark, plain_index),
        lambda: MultiGenReader(spark, one_gen),
    )):
        gid = f"set-up-{i}"
        sc.setJobGroup(gid, gid)
        try:
            r = make()
            r.doc_arrays()
            r.pin_driver()
            r.pin_driver(positions=True)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert list(sc.statusTracker().getJobIdsForGroup(gid)) == [], i
        assert r._pinned.rows > 0 and r.doc_arrays()[0].size > 0


def test_read_table_in_list_skips_row_groups(plain_index, monkeypatch):
    """An ``in`` list whose values straddle every row group's doc_idx
    range, none inside it, reads no row group of the docs table; one value
    inside reads only the row group(s) holding it (the fetch phase's read
    of its slots)."""
    from search_replica_spark.query.store import read_table

    docs = os.path.join(plain_index, "docs")
    bounds = {}
    for name in sorted(os.listdir(docs)):
        if name.startswith(("_", ".")):
            continue
        meta = pq.ParquetFile(os.path.join(docs, name)).metadata
        for i in range(meta.num_row_groups):
            rg = meta.row_group(i)
            col, = (j for j in range(rg.num_columns) if rg.column(j).path_in_schema == "doc_idx")
            bounds[(name, i)] = (rg.column(col).statistics.min, rg.column(col).statistics.max)
    assert len(bounds) > 1
    read = set()

    class Spy(pq.ParquetFile):
        def __init__(self, source, *args, **kwargs):
            super().__init__(source, *args, **kwargs)
            self.source = source

        def read_row_groups(self, groups, *args, **kwargs):
            if os.path.dirname(self.source) == docs:
                read.update((os.path.basename(self.source), g) for g in groups)
            return super().read_row_groups(groups, *args, **kwargs)

    monkeypatch.setattr(pq, "ParquetFile", Spy)
    gaps = sorted({b for lo, hi in bounds.values() for b in (lo - 1, hi + 1)}
                  - {d for lo, hi in bounds.values() for d in range(lo, hi + 1)})
    assert gaps
    t = read_table(docs, ["doc_idx"], (("doc_idx", "in", np.array(gaps[::-1])),))
    assert t.num_rows == 0 and read == set()
    first_lo, first_hi = bounds[min(bounds)]
    inside = first_lo + (first_hi - first_lo) // 2
    t = read_table(docs, ["doc_idx"], (("doc_idx", "in", [gaps[-1], inside, gaps[0]]),))
    assert t["doc_idx"].to_pylist() == [inside]
    assert read == {k for k, (lo, hi) in bounds.items() if lo <= inside <= hi}


@pytest.fixture(scope="module")
def fielded_indexes(spark, tmp_path_factory):
    """(plain, generational) indexes with ``content`` as text and ``lang``
    as a keyword field; the generational one has an update and a
    tombstone in its second generation."""
    tmp = tmp_path_factory.mktemp("fielded")
    words = ["alpha", "beta", "gamma", "delta"]
    docs = pd.DataFrame({
        "repo": ["r0"] * 60,
        "path": [f"f/{i}.go" for i in range(60)],
        "commit": ["0" * 40] * 60,
        "lang": [("go", "py", "rs")[i % 3] for i in range(60)],
        "content": [" ".join([words[i % 4]] * (1 + i % 5) + [words[(i // 4) % 4]] * (i % 3))
                    for i in range(60)],
    })
    cfg = IndexConfig(shuffle_partitions=4,
                      field_analyzers=(("content", "text"), ("lang", "keyword")))
    plain = str(tmp / "fielded")
    build_index(spark, spark.createDataFrame(docs), plain, cfg)
    gens = str(tmp / "fielded_gens")
    add_generation(spark, spark.createDataFrame(docs.iloc[:35]), gens, cfg)
    upd = docs.iloc[[21, 24, 27]].copy()
    upd["content"] = "alpha alpha omega"
    upd["_change_type"] = "update"
    dele = docs.iloc[[30]].copy()
    dele["_change_type"] = "delete"
    add_generation(spark, spark.createDataFrame(pd.concat([docs.iloc[35:], upd, dele])), gens)
    return plain, gens


def test_set_up_and_fetch_with_a_nested_stored_column(spark, corpus, tmp_path):
    """A store_source index keeps its input columns in the docs table ahead
    of doc_idx; a nested one (an ``inlined`` array of structs) has several
    parquet leaves, so doc_idx's statistics are not at its field position.
    Plain and generational readers still read the Spark reference's doc
    arrays and store, and ``stored_fields``, whose doc_idx filter finds
    its statistics by leaf path, reads exactly the asked-for rows."""
    from pyspark.sql import functions as F

    cfg = IndexConfig(
        shuffle_partitions=4, store_source=True,
        input_columns=("repo", "path", "commit", "lang", "content", "inlined"),
    )
    df = spark.createDataFrame(corpus).withColumn(
        "inlined",
        F.array(F.struct(F.length("content").cast("long").alias("ck"),
                         F.col("lang").alias("value"))),
    )
    idx = str(tmp_path / "nested")
    build_index(spark, df, idx, cfg)
    gens = str(tmp_path / "nested_gens")
    add_generation(spark, df.limit(150), gens, cfg)
    for r in (IndexReader(spark, idx), MultiGenReader(spark, gens)):
        dl, ids = r.doc_arrays()
        want_dl, want_ids = _doc_arrays_spark(spark, r)
        assert dl.tobytes() == want_dl.tobytes() and ids.tobytes() == want_ids.tobytes()
        r.pin_driver()
        _assert_same_store(r._pinned, _scan_store(spark, r, False))
        asked = ids[::7]
        got = sorted((d["_rid"], d["path"], d["inlined"])
                     for d in r.stored_fields(asked, ["path", "inlined"]).to_pylist())
        want = sorted((w["_rid"], w["path"], [x.asDict() for x in w["inlined"]])
                      for w in _matched_docs_df(spark, r, asked.tolist()).collect())
        assert len(got) == asked.size and got == want


# --- the fetch phase read in the driver -------------------------------------


def _matched_docs_df(spark, reader, ids):
    """The Spark plan the fetch phase ran before it read in the driver, kept
    as the reference: the docs-store rows of the reader's live docs among
    ``ids`` with an ``_rid`` column holding the id, each generation's rows
    selected on doc_idx (an IN filter for up to 1,000 slots) and
    broadcast-joined to its (doc_idx, _rid) list."""
    from functools import reduce

    from pyspark.sql import functions as F

    _dl, arr = reader.doc_arrays()
    want = np.fromiter((int(i) for i in ids), dtype=np.int64, count=len(ids))
    slots = np.flatnonzero(np.isin(arr, want))
    if reader._live is not None:
        slots = slots[reader._live[slots]]
    parts = []
    for g in reader.live_gens:
        d, off = g["dir"], reader.bases[g["gen"]]
        mine = slots[(slots >= off) & (slots < off + int(g["n_docs"]))]
        rid = spark.createDataFrame(
            list(zip((mine - off).tolist(), arr[mine].tolist())), "doc_idx long, _rid long")
        docs = spark.read.parquet(os.path.join(d, "docs"))
        if mine.size <= 1000:
            docs = docs.filter(F.col("doc_idx").isin((mine - off).tolist()))
        parts.append(docs.join(F.broadcast(rid), "doc_idx"))
    return reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), parts)


def _spark_aggs(spark, reader, aggs, matched):
    """The request aggs as the Spark plan computed them: one Spark
    aggregation per agg over ``_matched_docs_df``."""
    from pyspark.sql import functions as F

    mdf = _matched_docs_df(spark, reader, matched)
    out = {}
    for name, spec in aggs.items():
        akind, abody = next(iter(spec.items()))
        field = abody.get("field")
        if akind == "terms":
            rows = (mdf.groupBy(F.col(field).alias("key")).agg(F.count("*").alias("doc_count"))
                    .orderBy(F.col("doc_count").desc(), F.col("key").asc())
                    .limit(int(abody.get("size", 10))).collect())
            out[name] = {"buckets": [{"key": r["key"], "doc_count": r["doc_count"]} for r in rows]}
        elif akind == "stats":
            r = mdf.agg(F.count(field).alias("count"), F.min(field).alias("min"),
                        F.max(field).alias("max"), F.sum(field).alias("sum"),
                        F.avg(field).alias("avg")).collect()[0]
            out[name] = {k: r[k] for k in ("count", "min", "max", "sum", "avg")}
        elif akind in ("min", "max", "sum", "avg"):
            out[name] = {"value": mdf.agg(getattr(F, akind)(field).alias("v")).collect()[0]["v"]}
        elif akind == "value_count":
            out[name] = {"value": mdf.agg(F.count(field).alias("v")).collect()[0]["v"]}
        elif akind == "cardinality":
            out[name] = {"value": mdf.agg(F.countDistinct(field).alias("v")).collect()[0]["v"]}
        elif akind == "histogram":
            iv = float(abody["interval"])
            rows = (mdf.groupBy((F.floor(F.col(field) / F.lit(iv)) * F.lit(iv)).alias("key"))
                    .agg(F.count("*").alias("doc_count")).orderBy("key").collect())
            out[name] = {"buckets": [{"key": r["key"], "doc_count": r["doc_count"]} for r in rows]}
    return out


def _spark_sort(spark, reader, ids, key, order, offset, size):
    """The stored-field sort page as the Spark plan computed it, as (id,
    sort value) pairs: one orderBy on (key, _rid asc) + limit."""
    from pyspark.sql import functions as F

    col = F.col(key).asc() if order == "asc" else F.col(key).desc()
    rows = (_matched_docs_df(spark, reader, ids).select("_rid", key)
            .orderBy(col, F.col("_rid").asc()).limit(offset + size).collect())
    return [(r["_rid"], r[key]) for r in rows[offset:]]


FETCH_AGGS = {
    "langs": {"terms": {"field": "lang", "size": 10}},
    "lens": {"terms": {"field": "doc_len", "size": 6}},
    "dl": {"stats": {"field": "doc_len"}},
    "min_dl": {"min": {"field": "doc_len"}},
    "max_dl": {"max": {"field": "doc_len"}},
    "min_lang": {"min": {"field": "lang"}},
    "max_path": {"max": {"field": "path"}},
    "sum_dl": {"sum": {"field": "doc_len"}},
    "avg_dl": {"avg": {"field": "doc_len"}},
    "n_lang": {"value_count": {"field": "lang"}},
    "card_lang": {"cardinality": {"field": "lang"}},
    "hist": {"histogram": {"field": "doc_len", "interval": 20}},
}


@pytest.fixture(scope="module")
def fetch_indexes(spark, tmp_path_factory):
    """Stored-_source indexes over 1,200 docs: a plain one, and a
    generational one of two batches, then upserts of two docs beside a
    tombstone, then a partial update that nulls ``lang`` of four docs.
    Returns them with the corpus."""
    cfg = IndexConfig(shuffle_partitions=4, store_source=True)
    corpus = generate_corpus(1200)
    tmp = tmp_path_factory.mktemp("fetch")
    plain, gens = str(tmp / "plain"), str(tmp / "gens")
    build_index(spark, spark.createDataFrame(corpus), plain, cfg)
    add_generation(spark, spark.createDataFrame(corpus.iloc[:700]), gens, cfg)
    add_generation(spark, spark.createDataFrame(corpus.iloc[700:]), gens, cfg)
    upd = corpus.iloc[[4, 7]].copy()
    upd["content"] = upd["content"] + " license apache"
    upd["_change_type"] = "update"
    dele = corpus.iloc[[11]].copy()
    dele["_change_type"] = "delete"
    add_generation(spark, spark.createDataFrame(pd.concat([upd, dele])), gens, cfg)
    unset = corpus.iloc[[20, 21, 22, 700]][["repo", "path"]].copy()
    for c in ("commit", "lang", "content"):
        unset[c] = None
    unset["_change_type"] = "update_partial"
    unset["_unset"] = [["lang"]] * 4
    add_generation(spark, spark.createDataFrame(unset), gens, cfg)
    return plain, gens, corpus


def test_driver_fetch_equals_spark_reference(spark, fetch_indexes):
    """``IndexReader.stored_fields``, the request aggs and the stored-field
    sort equal the Spark plans they replaced (``_matched_docs_df``, one
    Spark aggregation per agg, one orderBy + limit per sort), value for
    value and type for type, and start no Spark job. Readers: plain and
    generational (a superseded version and a tombstoned doc are never
    read). Id sets:
    every live id (over 1,000: the reference's broadcast-join shape), a
    few, superseded, deleted and absent ids, and none. The ``lang`` that a
    partial update nulled is a ``terms`` bucket of its own (key None) and
    sorts first ascending and last descending."""
    from search_replica_spark.oracle import doc_id_of
    from search_replica_spark.query.dsl import _run_aggs, execute_request

    plain, gens, corpus = fetch_indexes
    cols = ["doc_len", "path", "lang", "content"]
    changed = [doc_id_of(corpus["repo"][i], corpus["path"][i]) for i in (4, 11, 20)]
    readers = [("plain", IndexReader(spark, plain)), ("multigen", MultiGenReader(spark, gens))]
    for label, r in readers:
        live = r._live_docs().drop_dead(r.doc_arrays()[1])
        id_sets = {"all": live, "few": live[::250], "changed": np.array([*changed, 10**17]),
                   "none": np.empty(0, np.int64)}
        assert live.size > 1000
        for name, ids in id_sets.items():
            got, jobs = _spark_jobs(spark, lambda: r.stored_fields(ids, cols))
            assert jobs == [], (label, name)
            want = _matched_docs_df(spark, r, ids.tolist()).select("_rid", *cols).collect()
            assert got.column_names == ["_rid", *cols]
            assert sorted(map(tuple, (row.values() for row in got.to_pylist()))) == sorted(
                map(tuple, want)), (label, name)
            aggs, jobs = _spark_jobs(spark, lambda: _run_aggs(r, FETCH_AGGS, ids))
            assert jobs == [], (label, name)
            assert json.dumps(aggs, sort_keys=True) == json.dumps(
                _spark_aggs(spark, r, FETCH_AGGS, ids.tolist()), sort_keys=True), (label, name)
            if label == "multigen" and name == "all":
                assert None in [b["key"] for b in aggs["langs"]["buckets"]]
            if label == "multigen" and name == "changed":
                by_id = {row["_rid"]: row for row in got.to_pylist()}
                assert len(by_id) == 2 and changed[1] not in by_id  # tombstoned
                assert by_id[changed[0]]["content"].endswith(" license apache")  # newest
                assert by_id[changed[2]]["lang"] is None
        for key in ("doc_len", "path", "lang"):
            for order in ("asc", "desc"):
                for offset, size in ((0, 1200), (15, 10)):
                    body = {"sort": [{key: {"order": order}}], "from": offset, "size": size}
                    resp, jobs = _spark_jobs(spark, lambda: execute_request(r, body))
                    assert jobs == [], (label, body)
                    page = [(h["_id"], h["sort"][0]) for h in resp["hits"]["hits"]]
                    want = _spark_sort(spark, r, live.tolist(), key, order, offset, size)
                    assert json.dumps(page) == json.dumps(want), (label, body)
                    if label == "multigen" and key == "lang" and size == 1200:
                        nulls = [v is None for _d, v in page]
                        assert sum(nulls) == 4
                        assert nulls == sorted(nulls, reverse=order == "asc")


def test_mlt_by_id_skips_a_like_doc_it_cannot_fetch(fetch_indexes, small_index):
    """more_like_this by ``_id`` on an index that stores ``_source`` skips
    a like doc that is tombstoned or absent, as ES does: with no like item
    left the query matches nothing, and the other like items still count.
    An index built without ``store_source`` still refuses MLT by id."""
    from search_replica_spark.oracle import doc_id_of
    from search_replica_spark.query.dsl import execute_dsl

    _plain, gens, corpus = fetch_indexes
    r = MultiGenReader(None, gens)
    text = execute_dsl(r, {"more_like_this": {"like": "license apache"}}, k=10)
    assert text
    for gone in (doc_id_of(corpus["repo"][11], corpus["path"][11]), 10**17):
        for include in (False, True):
            body = {"more_like_this": {"like": {"_id": gone}, "include": include}}
            assert execute_dsl(r, body, k=10) == []
        body = {"more_like_this": {"like": ["license apache", {"_id": gone}]}}
        assert execute_dsl(r, body, k=10) == text
    with pytest.raises(ValueError, match="store_source"):
        execute_dsl(IndexReader(None, small_index[0]),
                    {"more_like_this": {"like": {"_id": 10**17}}}, k=10)
