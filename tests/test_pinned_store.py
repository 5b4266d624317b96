"""The pinned posting store: pinned and unpinned readers answer
``/_search`` bodies identically, a generational store holds each
generation's postings at its slot base exactly as a pandas read of the
parquet gives them, a positional re-pin serves phrase requests without
Spark, fetched postings equal a per-term pandas reference and the
``bincount`` accumulate is bit-identical to its ``np.add.at`` reference,
and shard readers score with the global df, positional queries included."""

import os
import time

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
import pytest

from search_replica_spark.config import IndexConfig
from search_replica_spark.corpus import generate_corpus
from search_replica_spark.index.build import build_index
from search_replica_spark.query.bm25 import (
    IndexReader,
    TermAtATimeScorer,
    _accumulate,
    _bm25,
    bool_topk,
    explain_score,
    phrase_topk,
)
from search_replica_spark.query.dsl import execute_request
from search_replica_spark.streaming.incremental import MultiGenReader, add_generation

CFG = IndexConfig(
    shuffle_partitions=4, store_positions=True
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


def _assert_same_answers(reference, other, bodies):
    for body in bodies:
        assert _answer(other, body) == _answer(reference, body), body


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
    pinned and unpinned: a plain reader, a doc-sharded reader, and a
    generational reader over an update and a tombstone."""
    plain = IndexReader(spark, plain_index)
    bodies = _bodies(plain)
    _assert_same_answers(plain, IndexReader(spark, plain_index).pin_driver(), bodies)

    n = plain.n_docs
    shard = (n // 3, 2 * n // 3)
    shard_plain = IndexReader(spark, plain_index, shard_range=shard)
    shard_pinned = IndexReader(spark, plain_index, shard_range=shard).pin_driver()
    _assert_same_answers(shard_plain, shard_pinned, bodies)
    # the shard answers from its own docs only
    part, _ = _answer(shard_pinned, _match("license apache", size=n))
    assert part and {d for d, _s in part} <= set(shard_pinned.doc_arrays()[1].tolist())

    mg = MultiGenReader(spark, multigen_index)
    assert len(mg.gens) == 3 and mg.gens[2]["deleted_ids"]
    assert len(mg) < mg.n_docs  # superseded and tombstoned slots
    _assert_same_answers(mg, MultiGenReader(spark, multigen_index).pin_driver(), bodies)


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
    """On plain, shard and generational readers, none of them pinned,
    match, bool and match_phrase requests and every term-expanding query
    (prefix capped and uncapped, fuzzy, wildcard, regexp,
    match_phrase_prefix, completion, and range and exists on a keyword
    field) read the index parquet in the driver and start no Spark job."""
    from search_replica_spark.query.bm25 import completion_suggest

    def q(kind, **spec):
        return {"query": {kind: spec}, "size": 100}

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

    def readers(index):
        n = IndexReader(spark, index).n_docs
        yield "plain", lambda: IndexReader(spark, index)
        yield "shard", lambda: IndexReader(spark, index, shard_range=(n // 3, 2 * n // 3))

    fielded, fielded_gens = fielded_indexes
    cases = [(label, make, text_bodies) for label, make in readers(plain_index)]
    cases.append(("multigen", lambda: MultiGenReader(spark, multigen_index), text_bodies))
    cases += [(f"fielded {label}", make, keyword_bodies) for label, make in readers(fielded)]
    cases.append(("fielded multigen", lambda: MultiGenReader(spark, fielded_gens),
                  keyword_bodies))
    for label, make, bodies in cases:
        r = make()
        for body in bodies:
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
    """(label, reader) for a plain, a shard and a generational reader,
    each unpinned and pinned."""
    n = IndexReader(spark, plain_index).n_docs
    makers = {
        "plain": lambda: IndexReader(spark, plain_index),
        "shard": lambda: IndexReader(spark, plain_index, shard_range=(n // 3, 2 * n // 3)),
        "multigen": lambda: MultiGenReader(spark, multigen_index),
    }
    for label, make in makers.items():
        yield f"{label} unpinned", make()
        yield f"{label} pinned", make().pin_driver()


def _fetch_postings_per_term(reader, terms):
    """A per-term pandas reference for fetch_postings: each generation's
    rows of the term read from parquet, kept to the reader's doc_idx range,
    shifted to its slots, concatenated in generation order."""
    out = {}
    for term in sorted(set(terms)):
        docs, tfs = [], []
        for d, _gen, base, rng in reader._gens():
            rows, dic = _postings_pandas(reader, d)
            ids = dic.loc[dic["term"] == term, "term_id"].tolist()
            g = rows[rows["term_id"].isin(ids)]
            if rng is not None:
                g = g[(g["doc_idx"] >= rng[0]) & (g["doc_idx"] < rng[1])]
            docs.append(g["doc_idx"].to_numpy(np.int64) + reader._slot_offset(base))
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


# --- shard readers -----------------------------------------------------------


def test_shard_reader_scores_with_global_df(spark, plain_index, multigen_index):
    """A shard reader's matches are the full reader's matches restricted
    to the shard, with the same scores: idf comes from the dictionary df,
    not from the shard's own posting lengths."""
    n = IndexReader(spark, plain_index).n_docs
    shard = (n // 3, 2 * n // 3)
    pairs = [
        (IndexReader(spark, plain_index), IndexReader(spark, plain_index, shard_range=shard)),
        (MultiGenReader(spark, multigen_index),
         MultiGenReader(spark, multigen_index, shard_range=shard).pin_driver()),
    ]
    for full, part in pairs:
        ids, live = part.doc_arrays()[1], getattr(part, "_live", None)
        in_shard = ids if live is None else ids[live.astype(bool)]  # live slots only
        for q in ("license", "license apache", "def return the"):
            answers = [
                (TermAtATimeScorer(r).score(q, None, live=getattr(r, "_live", None)),
                 TermAtATimeScorer(r).score(q, None, mode="and", live=getattr(r, "_live", None)),
                 bool_topk(r, must=q.split()[:1], should=q.split()[1:], k=None,
                           live=getattr(r, "_live", None)))
                for r in (full, part)
            ]
            for (fid, fsc), (pid, psc) in zip(*answers):
                keep = np.isin(fid, in_shard)
                assert keep.any() and not keep.all()
                want = dict(zip(fid[keep].tolist(), fsc[keep].tolist()))
                got = dict(zip(pid.tolist(), psc.tolist()))
                assert got.keys() == want.keys(), q
                for d, sc in got.items():
                    assert sc == pytest.approx(want[d], rel=1e-9), (q, d)


def test_explain_on_shard_reader_sums_to_its_score(spark, plain_index, multigen_index):
    """explain_score on a shard reader reports the global df and idf, the
    same breakdown as the full reader, and its contributions sum to the
    score TermAtATimeScorer gives the hit."""
    n = IndexReader(spark, plain_index).n_docs
    shard = (n // 3, 2 * n // 3)
    pairs = [
        (IndexReader(spark, plain_index), IndexReader(spark, plain_index, shard_range=shard)),
        (MultiGenReader(spark, multigen_index),
         MultiGenReader(spark, multigen_index, shard_range=shard).pin_driver()),
    ]
    for full, part in pairs:
        for q in ("license", "license apache", "def return the"):
            (doc, score), = TermAtATimeScorer(part).score(q, 1, live=getattr(part, "_live", None))
            got = explain_score(part, q)
            assert got == explain_score(full, q, doc), q
            assert {e["term"] for e in got} <= set(q.split())
            assert sum(e["contribution"] for e in got) == pytest.approx(score, abs=1e-5), q


def test_pinned_shard_reader_serves_match_without_spark(spark, plain_index, multigen_index):
    """A pinned shard reader holds the dictionary dfs it scores with, so a
    match request, with terms it has not seen before, starts no Spark job."""
    n = IndexReader(spark, plain_index).n_docs
    shard = (n // 3, 2 * n // 3)
    sc = spark.sparkContext
    for i, (r, full) in enumerate((
        (IndexReader(spark, plain_index, shard_range=shard).pin_driver(),
         IndexReader(spark, plain_index, shard_range=shard)),
        (MultiGenReader(spark, multigen_index, shard_range=shard).pin_driver(),
         MultiGenReader(spark, multigen_index, shard_range=shard)),
    )):
        r.doc_arrays()
        getattr(r, "_live", None)
        bodies = [_match("license apache"), _match("def return the", "and"), _match("license")]
        gid = f"pinned-shard-{i}"
        sc.setJobGroup(gid, gid)
        try:
            resps = [execute_request(r, body) for body in bodies]
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert list(sc.statusTracker().getJobIdsForGroup(gid)) == []
        assert resps[0]["hits"]["total"]["value"] > 0
        assert resps == [execute_request(full, body) for body in bodies]


def test_shard_reader_serves_positional_queries(spark, plain_index, multigen_index):
    """phrase_topk and a match_phrase body on a shard reader, plain and
    generational, return the full reader's hits restricted to the shard's
    live slots, with the same scores: positional postings are masked to
    the shard and rebased like the others, and keep only their own
    positions."""
    n = IndexReader(spark, plain_index).n_docs
    shard = (n // 3, 2 * n // 3)
    pairs = [
        (IndexReader(spark, plain_index), IndexReader(spark, plain_index, shard_range=shard)),
        (IndexReader(spark, plain_index).pin_driver(positions=True),
         IndexReader(spark, plain_index, shard_range=shard).pin_driver(positions=True)),
        (MultiGenReader(spark, multigen_index),
         MultiGenReader(spark, multigen_index, shard_range=shard).pin_driver(positions=True)),
    ]
    for full, part in pairs:
        ids, live = part.doc_arrays()[1], getattr(part, "_live", None)
        in_shard = ids if live is None else ids[live.astype(bool)]  # live slots only
        for phrase, slop in (("apache license", 0), ("distributed an", 1), ("license you", 0)):
            answers = [
                (phrase_topk(r, phrase, n, slop=slop),
                 _answer(r, {"query": {"match_phrase": {"content": {"query": phrase, "slop": slop}}},
                             "size": n})[0])
                for r in (full, part)
            ]
            for f_hits, p_hits in zip(*answers):
                want = {d: sc for d, sc in f_hits if d in set(in_shard.tolist())}
                assert want and len(want) < len(f_hits), (phrase, slop)
                got = dict(p_hits)
                assert got.keys() == want.keys(), (phrase, slop)
                for d, sc in got.items():
                    assert sc == pytest.approx(want[d], rel=1e-9), (phrase, d)


# --- reader set-up read in the driver -------------------------------------


def _doc_arrays_spark(spark, r):
    """The Spark collect doc_arrays() replaced, kept as the reference: each
    generation's docs in the reader's slot range, toPandas, slot order."""
    gens = getattr(r, "live_gens", None) or [{"gen": 0, "dir": r.index_dir}]
    bases = getattr(r, "bases", {0: 0})
    lo, hi = r.shard_range or (0, 1 << 62)
    parts = []
    for g in gens:
        pdf = spark.read.parquet(f"{g['dir']}/docs").select("doc_idx", "doc_id", "doc_len").toPandas()
        pdf["slot"] = pdf["doc_idx"] + bases[g["gen"]]
        parts.append(pdf[(pdf["slot"] >= lo) & (pdf["slot"] < hi)])
    pdf = pd.concat(parts).sort_values("slot")
    return pdf["doc_len"].to_numpy(np.float64), pdf["doc_id"].to_numpy(np.int64)


def _scan_store(spark, r, positions, terms=None):
    """The Spark-built store the driver reads replaced, kept as the
    reference: one Spark scan over the reader's generations of the
    postings rows of ``terms`` (every row when None) — ``term_id IN
    (...)`` with the ids from each generation's dictionary and, on a shard
    reader, doc_idx in the generation's range — collected with
    ``toArrow()`` and cut into one part per generation."""
    from functools import reduce

    import pyarrow.compute as pc
    from pyspark.sql import DataFrame
    from pyspark.sql import functions as F

    from search_replica_spark.query.store import Postings, PostingStore, read_table

    positions = positions and r.positions_stored
    scans, gens = [], []
    for d, _gen, base, rng in r._gens():
        flt = () if terms is None else (("term", "in", sorted(set(terms))),)
        dic = read_table(os.path.join(d, "dict"), ["term", "term_id"], flt)
        ids = dic["term_id"].to_pylist()
        q = spark.read.parquet(os.path.join(d, "postings"))
        if terms is not None:
            q = q.filter(F.col("term_id").isin(ids) if ids else F.lit(False))
        if rng is not None:
            q = q.filter((F.col("doc_idx") >= rng[0]) & (F.col("doc_idx") < rng[1]))
        cols = ["term_id", "doc_idx", "tf"] + (["positions"] if positions else [])
        scans.append(q.select(*cols, F.lit(len(gens)).alias("g")))
        gens.append((dict(zip(ids, dic["term"].to_pylist())), r._slot_offset(base)))
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


def _set_up_readers(spark, plain_index, multigen_index):
    """(label, reader factory) for plain, shard, generational and
    generational shard readers; the generational shards split the slot
    space so that one holds a single generation and one spans two."""
    n = IndexReader(spark, plain_index).n_docs
    slots = sum(g["n_docs"] for g in MultiGenReader(spark, multigen_index).live_gens)
    makers = [
        ("plain", lambda: IndexReader(spark, plain_index)),
        ("shard", lambda: IndexReader(spark, plain_index, shard_range=(n // 3, 2 * n // 3))),
        ("multigen", lambda: MultiGenReader(spark, multigen_index)),
    ]
    for lo, hi in ((0, 100), (100, 200), (200, slots)):
        makers.append((f"multigen shard {lo}-{hi}",
                       lambda lo=lo, hi=hi: MultiGenReader(spark, multigen_index, shard_range=(lo, hi))))
    return makers


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
    for label, make in _set_up_readers(spark, plain_index, multigen_index):
        r = make()
        dl, ids = r.doc_arrays()
        want_dl, want_ids = _doc_arrays_spark(spark, r)
        assert dl.dtype == want_dl.dtype and dl.tobytes() == want_dl.tobytes(), label
        assert ids.dtype == want_ids.dtype and ids.tobytes() == want_ids.tobytes(), label
        if r.shard_range is not None:
            assert ids.size == r.shard_range[1] - r.shard_range[0], label
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
    """doc_arrays() + pin_driver() on a plain, a shard and a
    single-generation MultiGenReader start no Spark job."""
    one_gen = str(tmp_path / "one_gen")
    add_generation(spark, spark.createDataFrame(corpus.iloc[:100]), one_gen, CFG)
    n = IndexReader(spark, plain_index).n_docs
    sc = spark.sparkContext
    for i, make in enumerate((
        lambda: IndexReader(spark, plain_index),
        lambda: IndexReader(spark, plain_index, shard_range=(n // 3, 2 * n // 3)),
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


def test_shard_doc_read_skips_row_groups_outside_the_range(spark, plain_index, monkeypatch):
    """A shard reader's doc read returns exactly hi - lo rows and reads only
    the row groups whose doc_idx statistics overlap its range."""
    import os

    import pyarrow.parquet as pq

    docs = os.path.join(plain_index, "docs")
    n = IndexReader(spark, plain_index).n_docs
    lo, hi = 0, n // 6
    overlapping, every = set(), set()
    for name in sorted(os.listdir(docs)):
        if name.startswith(("_", ".")):
            continue
        pf = pq.ParquetFile(os.path.join(docs, name))
        meta = pf.metadata
        for i in range(meta.num_row_groups):
            rg = meta.row_group(i)
            col, = (j for j in range(rg.num_columns) if rg.column(j).path_in_schema == "doc_idx")
            st = rg.column(col).statistics
            every.add((name, i))
            if st.max >= lo and st.min < hi:
                overlapping.add((name, i))
    assert overlapping and overlapping < every  # the range must leave some out

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
    dl, ids = IndexReader(spark, plain_index, shard_range=(lo, hi)).doc_arrays()
    assert dl.size == ids.size == hi - lo
    assert read == overlapping


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


def test_fielded_norms_on_shard_readers_equal_full_reader(spark, fielded_indexes):
    """fielded_norms_topk on a shard reader, plain and generational, gives
    the full reader's hits restricted to the shard's live slots, with the
    same scores: the per-field lengths are read for the shard's own slots
    and the idf uses the dictionary df, not the shard's posting count."""
    from search_replica_spark.query.bm25 import fielded_norms_topk

    plain, gens = fielded_indexes
    terms = ["content:alpha", "lang:go"]
    for full, part in (
        (IndexReader(spark, plain), IndexReader(spark, plain, shard_range=(20, 40))),
        (MultiGenReader(spark, gens), MultiGenReader(spark, gens, shard_range=(20, 40))),
        (MultiGenReader(spark, gens), MultiGenReader(spark, gens, shard_range=(30, 50)).pin_driver()),
    ):
        ids, live = part.doc_arrays()[1], getattr(part, "_live", None)
        in_shard = set((ids if live is None else ids[live.astype(bool)]).tolist())
        want = {d: sc for d, sc in fielded_norms_topk(full, terms, 100) if d in in_shard}
        got = dict(fielded_norms_topk(part, terms, 100))
        assert want and got.keys() == want.keys()
        for d, sc in got.items():
            assert sc == pytest.approx(want[d], rel=1e-9), d


def test_shard_set_up_with_a_nested_stored_column(spark, corpus, tmp_path):
    """A store_source index keeps its input columns in the docs table ahead
    of doc_idx; a nested one (an ``inlined`` array of structs) has several
    parquet leaves, so doc_idx's statistics are not at its field position.
    Shard readers still read exactly their slots and the Spark-built store."""
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
    n = IndexReader(spark, idx).n_docs
    for make in (
        lambda: IndexReader(spark, idx, shard_range=(n // 3, 2 * n // 3)),
        lambda: IndexReader(spark, idx, shard_range=(0, n // 5)),
        lambda: MultiGenReader(spark, gens, shard_range=(40, 110)),
    ):
        r = make()
        dl, ids = r.doc_arrays()
        want_dl, want_ids = _doc_arrays_spark(spark, r)
        assert ids.size == r.shard_range[1] - r.shard_range[0]
        assert dl.tobytes() == want_dl.tobytes() and ids.tobytes() == want_ids.tobytes()
        r.pin_driver()
        _assert_same_store(r._pinned, _scan_store(spark, r, False))


def test_generational_shards_partition_the_full_reader(spark, multigen_index):
    """Pinned generational shard readers over a partition of the slot
    space, one holding a single generation and one spanning two, together
    answer exactly the full reader's live hits: match and bool scores to
    1e-9 relative, phrase hits too, each doc in exactly one shard."""
    full = MultiGenReader(spark, multigen_index).pin_driver(positions=True)
    slots = sum(g["n_docs"] for g in full.live_gens)
    shards = [MultiGenReader(spark, multigen_index, shard_range=rng).pin_driver(positions=True)
              for rng in ((0, 100), (100, 200), (200, slots))]
    for scorer in (
        lambda r: dict(zip(*[a.tolist() for a in TermAtATimeScorer(r).score(
            "license apache", None, live=r._live)])),
        lambda r: dict(zip(*[a.tolist() for a in bool_topk(
            r, must=["def"], should=["return", "the"], k=None, live=r._live)])),
        lambda r: dict(phrase_topk(r, "apache license", 1000, slop=1)),
    ):
        want = scorer(full)
        parts = [scorer(s) for s in shards]
        assert want and sum(len(p) for p in parts) == len(want)
        got = {d: sc for p in parts for d, sc in p.items()}
        assert got.keys() == want.keys()
        for d, sc in got.items():
            assert sc == pytest.approx(want[d], rel=1e-9), d
