"""The columnar pinned block store: pinned and unpinned readers answer
``/_search`` bodies identically, the generational remap is bit-identical
to the pandas formulation it replaced, a positional re-pin serves phrase
requests without Spark, the one-decode-per-request kernel (single decode,
``bincount`` accumulate) is bit-identical to its per-term reference, and
shard readers score with the global df."""

import collections
import itertools

import numpy as np
import pandas as pd
import pytest

from search_replica_spark.config import IndexConfig
from search_replica_spark.corpus import generate_corpus
from search_replica_spark.index.build import build_index
from search_replica_spark.index.codec import decode_doc_blocks, varint_decode
from search_replica_spark.query.bm25 import (
    IndexReader,
    TermAtATimeScorer,
    _accumulate,
    _bm25,
    bool_topk,
    explain_score,
    tokenize_text,
    wand_topk,
)
from search_replica_spark.query.dsl import execute_request
from search_replica_spark.streaming.incremental import MultiGenReader, add_generation

CFG = IndexConfig(
    shuffle_partitions=4, hot_df_threshold=200, salt_range_docs=256, store_positions=True
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


def _remap_blocks_pandas(reader, pdf):
    """The pandas remap the NumPy one replaced, kept as the reference:
    shift block ranges by the gen base, renumber block_id per term,
    rescale max_score to a global upper bound."""
    pdf = pdf.sort_values(["term", "gen", "block_id"]).reset_index(drop=True)
    pdf["doc_off"] = pdf["gen"].map(reader.bases).astype("int64")
    pdf["first_doc_idx"] = pdf["first_doc_idx"] + pdf["doc_off"]
    pdf["last_doc_idx"] = pdf["last_doc_idx"] + pdf["doc_off"]
    grp = pdf.groupby(["term", "gen"], sort=False)["n"].transform("sum")
    df_glob = pdf.groupby("term", sort=False)["n"].transform("sum")
    n_g = pdf["gen"].map(lambda g: reader._gen_stats[g][0])
    avg_g = pdf["gen"].map(lambda g: reader._gen_stats[g][1])
    idf_g = np.log(1.0 + (n_g - grp + 0.5) / (grp + 0.5))
    idf_glob = np.log(1.0 + (reader.n_docs - df_glob + 0.5) / (df_glob + 0.5))
    stretch = np.maximum(1.0, reader.avg_dl / np.where(avg_g > 0, avg_g, reader.avg_dl))
    pdf["max_score"] = pdf["max_score"] / idf_g * idf_glob * stretch * (1.0 + 1e-12)
    pdf["block_id"] = pdf.groupby("term", sort=False).cumcount()
    return pdf.drop(columns=["gen"]).sort_values(["term", "block_id"])


def test_multigen_remap_bit_identical_to_pandas(spark, multigen_index):
    """WAND's losslessness rests on the remapped doc_off, block ranges and
    rescaled max_score: the NumPy remap must reproduce the pandas one bit
    for bit."""
    mg = MultiGenReader(spark, multigen_index).pin_driver()
    want = _remap_blocks_pandas(mg, mg._segment_scan(False).toPandas())
    got = mg._pinned
    assert got.rows == len(want) > 0
    order = [t for t, _s in sorted(got.index.items(), key=lambda kv: kv[1])]
    assert order == list(dict.fromkeys(want["term"]))
    for col in ("doc_off", "first_doc_idx", "last_doc_idx", "max_score", "block_id", "n"):
        ref = want[col].to_numpy(got.cols[col].dtype)
        assert got.cols[col].tobytes() == ref.tobytes(), col
    docs = [bytes(b) for b in got.select(order)["docs_bin"]]
    assert docs == list(want["docs_bin"])


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
    sc = spark.sparkContext
    gid = "pinned-phrase"
    sc.setJobGroup(gid, gid)
    try:
        resp = execute_request(r, body)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert resp["hits"]["total"]["value"] > 0
    assert list(sc.statusTracker().getJobIdsForGroup(gid)) == []
    want = execute_request(IndexReader(spark, plain_index), body)
    assert resp == want


# --- one decode per request ---------------------------------------------

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
    """The per-term decode fetch_postings replaced, kept as the reference:
    one decode_doc_blocks and one varint_decode per term."""
    out = {}
    for term, g in reader.fetch_blocks(terms).by_term():
        offs = g["doc_off"] if "doc_off" in g else None
        docs = decode_doc_blocks(g["docs_bin"], g["n"], offs)
        tfs = varint_decode(g.joined("tfs_bin")).astype(np.int64)
        if reader.shard_range is not None:
            lo, hi = reader.shard_range
            m = (docs >= lo) & (docs < hi)
            docs, tfs = docs[m] - lo, tfs[m]
        out[term] = (docs, tfs, len(g))
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
    """fetch_postings decodes all terms in one pass and splits per term;
    docs, tfs and block slices equal a per-term decode on every reader."""
    for label, r in _readers(spark, plain_index, multigen_index):
        for terms in TERM_SETS:
            got = r.fetch_postings(terms)
            want = _fetch_postings_per_term(r, terms)
            assert list(got) == list(want), (label, terms)
            for term, (docs, tfs, g) in got.items():
                wd, wt, nblk = want[term]
                assert docs.dtype == wd.dtype and np.array_equal(docs, wd), (label, term)
                assert tfs.dtype == wt.dtype and np.array_equal(tfs, wt), (label, term)
                assert len(g) == nblk


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
                for i, (d, tf, _g) in enumerate(post[t] for t in sorted(post))
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


def test_wand_on_shard_reader_equals_tata(spark, plain_index, multigen_index):
    """Block-max WAND on a shard reader (plain and generational, pinned
    and not) returns the shard reader's own term-at-a-time top-k."""
    n = IndexReader(spark, plain_index).n_docs
    shard = (n // 3, 2 * n // 3)
    readers = [
        IndexReader(spark, plain_index, shard_range=shard),
        IndexReader(spark, plain_index, shard_range=shard).pin_driver(),
        MultiGenReader(spark, multigen_index, shard_range=shard).pin_driver(),
    ]
    for r in readers:
        live = getattr(r, "_live", None)
        for q, k in (("license", 5), ("license apache", 10), ("def return the", 3),
                     ("license zzqqabsentqq", 10)):
            got = wand_topk(r, q, k, live=live)
            want = TermAtATimeScorer(r).score(q, k, live=live)
            assert got and [d for d, _s in got] == [d for d, _s in want], q
            assert [s for _d, s in got] == pytest.approx([s for _d, s in want], rel=1e-9)


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


def test_wand_on_generational_shard_readers_is_lossless(spark, corpus, multigen_index):
    """On a generational shard reader the block-max bounds are rescaled
    with the dictionary df, so WAND never skips a block it should score:
    its top-k equals TATA's over many term pairs and shard ranges."""
    counts = collections.Counter(t for c in corpus["content"] for t in set(tokenize_text(c)))
    top = [t for t, _n in counts.most_common(12)]
    queries = [" ".join(p) for p in itertools.combinations(top, 2)]
    n = MultiGenReader(spark, multigen_index).n_docs
    for shard in ((0, n // 3), (n // 3, 2 * n // 3), (n // 6, 5 * n // 6), (2 * n // 3, n)):
        r = MultiGenReader(spark, multigen_index, shard_range=shard).pin_driver()
        for q in queries:
            for k in (1, 3):
                got = wand_topk(r, q, k, live=r._live)
                want = TermAtATimeScorer(r).score(q, k, live=r._live)
                assert [d for d, _s in got] == [d for d, _s in want], (shard, q, k)
