"""Round-3 fixes: positional segment merges, bool/prefix edge cases,
vectorized phrase scoring, legacy (pre-dls_bin) index layouts.

Reference parity notes: prefix expansion capping mirrors Elasticsearch's
``max_expansions`` (default 50); merge-preserves-positions mirrors what a
Lucene segment merge does to .prx data (the reference delegates all of this
to ES — demo/mapping.json configures the index, search/bulk.go ships docs).
"""

import json
import os
import time

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
import pytest

from search_replica_spark.config import IndexConfig
from search_replica_spark.index.build import build_index
from search_replica_spark.query.bm25 import (
    IndexReader,
    TermAtATimeScorer,
    bool_topk,
    phrase_topk,
    prefix_match,
)
from search_replica_spark.streaming.incremental import (
    MultiGenReader,
    add_generation,
    merge_generations,
)

CFG = IndexConfig(shuffle_partitions=4)
PCFG = IndexConfig(
    shuffle_partitions=4, store_positions=True
)


def _mk_docs(rows):
    return pd.DataFrame(
        {
            "repo": [r[0] for r in rows],
            "path": [r[1] for r in rows],
            "commit": ["0" * 40] * len(rows),
            "lang": ["py"] * len(rows),
            "content": [r[2] for r in rows],
        }
    )


# ---------------------------------------------------------------------------
# merge_generations over a positional index
# ---------------------------------------------------------------------------


def test_merge_preserves_positions(spark, tmp_path):
    """A merge of positional generations must keep phrase queries working
    and rank-identical to a fresh positional build over the live snapshot —
    even when the caller passes a cfg that forgot store_positions."""
    a = _mk_docs(
        [("r0", f"a/{i}.py", f"alpha table hash beta w{i % 5} gamma table hash") for i in range(60)]
    )
    b = _mk_docs([("r0", f"b/{i}.py", f"delta table hash w{i % 3}") for i in range(40)])
    idx = str(tmp_path / "pidx")
    add_generation(spark, spark.createDataFrame(a), idx, PCFG)
    add_generation(spark, spark.createDataFrame(b), idx, PCFG)

    before = phrase_topk(MultiGenReader(spark, idx), "table hash", 10)
    assert before
    merge_generations(spark, idx, CFG)  # cfg WITHOUT store_positions
    merged, = MultiGenReader(spark, idx).live_gens
    with open(os.path.join(merged["dir"], "stats.json")) as f:
        assert json.load(f)["store_positions"] is True

    mg = MultiGenReader(spark, idx)
    after = phrase_topk(mg, "table hash", 10, live=mg._live)
    full = str(tmp_path / "full")
    build_index(spark, spark.createDataFrame(pd.concat([a, b], ignore_index=True)), full, PCFG)
    want = phrase_topk(IndexReader(spark, full), "table hash", 10)
    assert [(d, round(s, 9)) for d, s in after] == [(d, round(s, 9)) for d, s in want]


def test_merge_mixed_positions_fails_fast(spark, tmp_path):
    """add_generation now derives build flags from the index, so mixed
    generations can only arise from foreign/corrupted state — construct
    that directly (two plain builds + a hand-written commit log) and
    check the merge still refuses to union mismatched segment schemas."""
    a = _mk_docs([("r0", f"a/{i}.py", "alpha beta") for i in range(10)])
    b = _mk_docs([("r0", f"b/{i}.py", "gamma delta") for i in range(10)])
    idx = str(tmp_path / "midx")
    g0, g1 = os.path.join(idx, "gen=0"), os.path.join(idx, "gen=1")
    s0 = build_index(spark, spark.createDataFrame(a), g0, PCFG)
    s1 = build_index(spark, spark.createDataFrame(b), g1, CFG)
    gens = [
        {"gen": i, "dir": d, "n_docs": s["n_docs"],
         "total_tokens": s["total_tokens"], "epoch_id": None, "deleted_ids": []}
        for i, (d, s) in enumerate([(g0, s0), (g1, s1)])
    ]
    with open(os.path.join(idx, "generations.json"), "w") as f:
        json.dump(gens, f)
    with pytest.raises(ValueError, match="mixed store_positions"):
        merge_generations(spark, idx, PCFG)


def test_add_generation_derives_index_flags(spark, tmp_path):
    """A plain insert batch with the DEFAULT cfg against a positional index
    must still be built positional (ES: index settings fixed at creation) —
    phrase queries keep matching newly ingested docs."""
    a = _mk_docs([("r0", f"a/{i}.py", "alpha beta gamma") for i in range(10)])
    b = _mk_docs([("r0", "b/new.py", "omega kappa sigma")])
    idx = str(tmp_path / "didx")
    add_generation(spark, spark.createDataFrame(a), idx, PCFG)
    add_generation(spark, spark.createDataFrame(b), idx)  # cfg=None
    with open(os.path.join(idx, "gen=1", "stats.json")) as f:
        assert json.load(f)["store_positions"] is True
    mg = MultiGenReader(spark, idx)
    hits = phrase_topk(mg, "omega kappa", 5, live=mg._live)
    assert len(hits) == 1


# ---------------------------------------------------------------------------
# bool / prefix edge cases
# ---------------------------------------------------------------------------


def test_bool_topk_all_should_terms_absent(spark, small_index):
    idx_dir, _ = small_index
    r = IndexReader(spark, idx_dir)
    assert bool_topk(r, must=[], should=["zzznope", "qqmissingqq"], k=5) == []


def test_prefix_expansion_cap_and_topk(spark, tmp_path):
    """More matching terms than max_expansions → only the first
    ``max_expansions`` terms in term order are expanded (ES semantics);
    k returns the k smallest doc_ids (constant-score tie-break)."""
    # doc i contains ONLY the term f"pre{i:03d}" → term order == doc order
    rows = [("r0", f"d/{i}.py", f"pre{i:03d}xx filler") for i in range(80)]
    idx = str(tmp_path / "cidx")
    build_index(spark, spark.createDataFrame(_mk_docs(rows)), idx, CFG)
    r = IndexReader(spark, idx)
    terms = r.expand_prefix("pre", max_expansions=10)
    assert terms == sorted(terms) and len(terms) == 10  # cap fired, term order
    capped = prefix_match(r, "pre", max_expansions=10)
    assert len(capped) == 10  # one doc per expanded term
    full = prefix_match(r, "pre", max_expansions=None)
    assert len(full) == 80
    topk = prefix_match(r, "pre", k=7, max_expansions=None)
    assert topk == sorted(full)[:7]


def test_prefix_multigen_unions_dicts_and_masks_tombstones(spark, tmp_path):
    a = _mk_docs([("r0", f"a/{i}.py", f"qqpref{i:02d} body") for i in range(20)])
    b = _mk_docs([("r0", f"b/{i}.py", f"qqpref9{i} later") for i in range(3)])
    idx = str(tmp_path / "gidx")
    add_generation(spark, spark.createDataFrame(a), idx, CFG)
    add_generation(spark, spark.createDataFrame(b), idx, CFG)
    victim = a.iloc[[5]].copy()
    victim["_change_type"] = "delete"
    add_generation(spark, spark.createDataFrame(victim), idx, CFG)

    from search_replica_spark.oracle import doc_id_of

    mg = MultiGenReader(spark, idx)
    hits = prefix_match(mg, "qqpref", max_expansions=None)  # live defaults to mg._live
    assert len(hits) == 22  # 20 + 3 - 1 tombstoned
    dead = doc_id_of("r0", "a/5.py")
    assert dead not in hits
    # gen-1-only terms are reachable → the dict union worked
    assert doc_id_of("r0", "b/0.py") in hits


# ---------------------------------------------------------------------------
# vectorized phrase scoring
# ---------------------------------------------------------------------------


def _phrase_naive(reader, phrase, k=10, slop=0):
    """The pre-vectorization per-candidate-doc loop, kept as the reference
    implementation for equivalence testing."""
    import math

    from search_replica_spark.analysis import tokenize_text

    r = reader
    qterms = tokenize_text(phrase)
    uniq = sorted(set(qterms))
    doc_len, doc_ids = r.doc_arrays()
    # the postings rows read straight from parquet (plain index: slot =
    # doc_idx), one position list per posting
    ids = pq.read_table(os.path.join(r.index_dir, "dict"), columns=["term", "term_id"])
    ids = dict(zip(ids["term"].to_pylist(), ids["term_id"].to_pylist()))
    rows = pq.read_table(os.path.join(r.index_dir, "postings")).to_pandas()
    per_term = {}
    for term in uniq:
        g = rows[rows["term_id"] == ids[term]].sort_values("doc_idx")
        per_term[term] = (g["doc_idx"].to_numpy(np.int64),
                          [np.asarray(p, np.int64) for p in g["positions"]])
    cand = per_term[uniq[0]][0]
    for t in uniq[1:]:
        cand = np.intersect1d(cand, per_term[t][0], assume_unique=True)
    idf_sum = sum(
        math.log(1.0 + (r.n_docs - len(per_term[t][0]) + 0.5) / (len(per_term[t][0]) + 0.5))
        for t in qterms
    )
    lookup = {
        t: dict(zip(per_term[t][0].tolist(), range(len(per_term[t][1]))))
        for t in set(qterms)
    }
    hits = []
    for d in cand.tolist():
        base = per_term[qterms[0]][1][lookup[qterms[0]][d]]
        disp = np.zeros(base.shape, dtype=np.int64)
        for i, t in enumerate(qterms[1:], start=1):
            pos = per_term[t][1][lookup[t][d]]
            want = base + i
            j = np.searchsorted(pos, want)
            left = np.abs(want - pos[np.maximum(j - 1, 0)])
            right = np.abs(pos[np.minimum(j, len(pos) - 1)] - want)
            disp += np.minimum(left, right)
        m = disp[disp <= slop]
        if m.size == 0:
            continue
        ptf = float(np.sum(1.0 / (m + 1.0)))
        dl = doc_len[d]
        hits.append((d, idf_sum * ptf / (ptf + r.k1 * (1.0 - r.b + r.b * dl / r.avg_dl))))
    hits.sort(key=lambda t: (-t[1], doc_ids[t[0]]))
    return [(int(doc_ids[d]), float(s)) for d, s in hits[:k]]


@pytest.fixture(scope="module")
def wide_phrase_index(spark, tmp_path_factory):
    """12k docs ALL containing the phrase — the candidate set the old
    per-doc loop choked on."""
    n = 12_000
    rows = [
        ("r0", f"w/{i}.py", f"alpha w{i % 7} table hash beta table gamma hash table hash")
        for i in range(n)
    ]
    out = str(tmp_path_factory.mktemp("widx"))
    build_index(spark, spark.createDataFrame(_mk_docs(rows)), out, PCFG)
    return out, n


def test_phrase_vectorized_equals_naive_wide(spark, wide_phrase_index):
    idx, n = wide_phrase_index
    r = IndexReader(spark, idx)
    r.doc_arrays()  # preload outside the timed window
    r.pin_driver(positions=True)
    for slop in (0, 1):
        t0 = time.time()
        got = phrase_topk(r, "table hash", 25, slop=slop)
        fast_sec = time.time() - t0
        want = _phrase_naive(r, "table hash", 25, slop=slop)
        assert [(d, round(s, 12)) for d, s in got] == [(d, round(s, 12)) for d, s in want]
        # >10k candidate docs scored without per-doc Python → well under
        # the old loop's multi-second cost
        assert fast_sec < 5.0, f"phrase scoring too slow ({fast_sec:.2f}s) — per-doc loop back?"


def test_phrase_vectorized_small_cases(spark, small_index):
    """Cross-check on the organic corpus too (partial overlaps, rare terms)."""
    idx_dir, _ = small_index
    pidx = idx_dir + "_pos"
    if not os.path.exists(os.path.join(pidx, "stats.json")):
        docs = spark.read.parquet(os.path.join(idx_dir, "docs"))
        # rebuild positionally from the original corpus via the docs table
        from search_replica_spark.corpus import generate_corpus

        build_index(spark, spark.createDataFrame(generate_corpus(600)), pidx, PCFG)
        assert docs.count() == 600
    r = IndexReader(spark, pidx)
    for phrase, slop in (("license apache", 0), ("def return", 1), ("the the", 0)):
        got = phrase_topk(r, phrase, 10, slop=slop)
        want = _phrase_naive(r, phrase, 10, slop=slop)
        assert [(d, round(s, 12)) for d, s in got] == [(d, round(s, 12)) for d, s in want], phrase


# ---------------------------------------------------------------------------
# K9 runtime metrics for the replication loop
# ---------------------------------------------------------------------------


def test_stream_writes_runtime_metrics(spark, tmp_path):
    """index_stream surfaces replication-loop observability after every
    batch (reference parity: state.go healthcheck + slot-lag gauge)."""
    from search_replica_spark.streaming.incremental import index_stream, read_metrics

    in_dir = str(tmp_path / "in")
    idx = str(tmp_path / "midx")
    os.makedirs(in_dir)
    schema = "repo string, path string, commit string, lang string, content string"
    a = _mk_docs([("r0", f"m/{i}.py", f"metric w{i % 3} body") for i in range(30)])
    for i, chunk in enumerate((a.iloc[:10], a.iloc[10:20], a.iloc[20:])):
        chunk.to_parquet(os.path.join(in_dir, f"b{i}.parquet"), index=False)
    q = index_stream(spark, in_dir, idx, schema, CFG, max_files_per_trigger=1)
    q.awaitTermination(600)

    m = read_metrics(idx)
    assert m["generations"] == 3 and m["live_generations"] == 3
    assert m["docs_indexed"] == 30
    assert m["last_epoch"] == 2  # epoch watermark advanced batch by batch
    assert m["tombstones_total"] == 0
    assert m["last_batch_docs"] == 10 and m["last_batch_sec"] > 0

    # a tombstone batch updates the counters through the same path
    from search_replica_spark.streaming.incremental import add_generation, write_metrics

    victim = a.iloc[[0]].copy()
    victim["_change_type"] = "delete"
    add_generation(spark, spark.createDataFrame(victim), idx, CFG)
    m2 = write_metrics(idx)
    assert m2["generations"] == 4 and m2["live_generations"] == 3
    assert m2["tombstones_total"] == 1
    assert m2["docs_indexed"] == 30


# ---------------------------------------------------------------------------
# per-field analyzers (ES mapping parity)
# ---------------------------------------------------------------------------


def test_fielded_index_keyword_vs_text(spark, tmp_path):
    """field_analyzers build: keyword fields index the EXACT value (one
    term, case preserved, never split); text fields run the standard
    analyzer; queries scope to a field via the field:term space."""
    import dataclasses

    rows = [
        ("r0", "f/0.py", "GoLang2", "alpha go body"),
        ("r0", "f/1.py", "Go", "alpha beta"),
        ("r0", "f/2.py", "go", "go go gamma"),
        ("r0", "f/3.py", "py", "delta go"),
    ]
    pdf = _mk_docs([(r, p, c) for r, p, _l, c in rows])
    pdf["lang"] = [r[2] for r in rows]
    idx = str(tmp_path / "fidx")
    cfg = dataclasses.replace(
        CFG, field_analyzers=(("content", "text"), ("lang", "keyword"))
    )
    build_index(spark, spark.createDataFrame(pdf), idx, cfg)

    from search_replica_spark.analysis.fields import field_query_terms
    from search_replica_spark.oracle import doc_id_of

    r = IndexReader(spark, idx)
    terms = {t["term"] for t in spark.read.parquet(os.path.join(idx, "dict")).collect()}
    assert "lang:GoLang2" in terms  # keyword: exact, unsplit, case preserved
    assert "lang:golang2" not in terms and "lang:lang2" not in terms
    assert "content:go" in terms and "go" not in terms  # every term is qualified

    sc = TermAtATimeScorer(r)
    def ids(ts):
        return {d for d, _s in sc.score(terms=ts, k=10)}

    assert ids(["lang:Go"]) == {doc_id_of("r0", "f/1.py")}      # not lang 'go'
    assert ids(["lang:go"]) == {doc_id_of("r0", "f/2.py")}      # case sensitive
    assert ids(field_query_terms("content", "GO")) == {         # text: analyzed
        doc_id_of("r0", "f/0.py"), doc_id_of("r0", "f/2.py"), doc_id_of("r0", "f/3.py")
    }
    # doc_len = tokens across mapped fields: f/0 has 3 content tokens + 1 keyword
    docs = {row["path"]: row["doc_len"] for row in
            spark.read.parquet(os.path.join(idx, "docs")).collect()}
    assert docs["f/0.py"] == 4 and docs["f/1.py"] == 3


def test_fielded_requires_jvm_and_known_columns(spark, tmp_path):
    import dataclasses

    pdf = _mk_docs([("r0", "x/0.py", "alpha")])
    bad = dataclasses.replace(CFG, field_analyzers=(("nope", "text"),))
    with pytest.raises(ValueError, match="not in input_columns"):
        build_index(spark, spark.createDataFrame(pdf), str(tmp_path / "a"), bad)
    bad2 = dataclasses.replace(
        CFG, field_analyzers=(("content", "text"),), tokenizer="arrow"
    )
    with pytest.raises(ValueError, match="jvm tokenizer"):
        build_index(spark, spark.createDataFrame(pdf), str(tmp_path / "b"), bad2)


# ---------------------------------------------------------------------------
# ES query-API widening: fuzzy / wildcard / match_phrase_prefix
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def esq_index(spark, tmp_path_factory):
    rows = [
        ("r0", "e/0.py", "alpha table hash beta"),
        ("r0", "e/1.py", "table haze gamma"),
        ("r0", "e/2.py", "table of hash"),          # not consecutive
        ("r0", "e/3.py", "hash table delta"),        # wrong order
        ("r0", "e/4.py", "slow small sort epsilon"),
        ("r0", "e/5.py", "spark scan stream"),
        ("r0", "e/6.py", "table hatch zeta"),
    ]
    out = str(tmp_path_factory.mktemp("esq"))
    build_index(spark, spark.createDataFrame(_mk_docs(rows)), out, PCFG)
    return out


def test_fuzzy_match_levenshtein_expansion(spark, esq_index):
    from search_replica_spark.oracle import doc_id_of
    from search_replica_spark.query.bm25 import fuzzy_match

    r = IndexReader(spark, esq_index)
    # "smal" within 2 edits, prefix 's': small(1), scan(2), slow(3 → out),
    # sort(3 → out), spark(3 → out), stream(4 → out)
    ids = fuzzy_match(r, "smal", fuzziness=2, prefix_length=1)
    assert set(ids) == {doc_id_of("r0", "e/4.py"), doc_id_of("r0", "e/5.py")}
    ids1 = fuzzy_match(r, "smal", fuzziness=1, prefix_length=1)
    assert set(ids1) == {doc_id_of("r0", "e/4.py")}  # only small
    with pytest.raises(ValueError, match="prefix_length"):
        fuzzy_match(r, "smal", prefix_length=0)


def test_wildcard_match_like_semantics(spark, esq_index):
    from search_replica_spark.oracle import doc_id_of
    from search_replica_spark.query.bm25 import wildcard_match

    r = IndexReader(spark, esq_index)
    # h?s* → hash only (haze: z≠s; hatch: 5 chars h-a-t-c-h, pos3≠s)
    ids = wildcard_match(r, "h?s*")
    assert set(ids) == {
        doc_id_of("r0", "e/0.py"), doc_id_of("r0", "e/2.py"), doc_id_of("r0", "e/3.py")
    }
    with pytest.raises(ValueError, match="leading-wildcard"):
        wildcard_match(r, "*ash")


def test_match_phrase_prefix_consecutive_and_expansion(spark, esq_index):
    from search_replica_spark.oracle import doc_id_of
    from search_replica_spark.query.bm25 import match_phrase_prefix

    r = IndexReader(spark, esq_index)
    # "table ha*": hash/haze/hatch immediately after 'table'
    ids = match_phrase_prefix(r, "table ha")
    assert set(ids) == {
        doc_id_of("r0", "e/0.py"),  # table hash
        doc_id_of("r0", "e/1.py"),  # table haze
        doc_id_of("r0", "e/6.py"),  # table hatch
    }
    # cap at 1 expansion → only 'hash' (term order: hash < hatch < haze)
    ids_cap = match_phrase_prefix(r, "table ha", max_expansions=1)
    assert set(ids_cap) == {doc_id_of("r0", "e/0.py")}
    # no fixed terms → degenerates to prefix_match
    from search_replica_spark.query.bm25 import prefix_match

    assert match_phrase_prefix(r, "ha") == prefix_match(r, "ha")
    # absent prefix → empty
    assert match_phrase_prefix(r, "table zz") == []


# --- round-3 late additions: highlight / GET / search_after ---

def test_highlight_fragment_rules():
    from search_replica_spark.query.highlight import highlight_fragment

    text = "alpha beta spark gamma delta " * 10
    frag = highlight_fragment(text, ["spark"])
    assert frag is not None and "<em>spark</em>" in frag
    # earliest occurrence drives selection: 30 chars of lead context
    pos = text.find("spark")
    assert frag == highlight_fragment(text, ["spark"])  # deterministic
    start = max(0, pos - 30)
    import re
    assert re.sub("</?em>", "", frag) == text[start:start + 80]
    # every in-fragment occurrence is tagged
    assert frag.count("<em>") == text[start:start + 80].lower().count("spark")
    # case-insensitive match + original case preserved
    f2 = highlight_fragment("xx SPARK yy", ["spark"])
    assert f2 == "xx <em>SPARK</em> yy"
    # no match -> None (ES omits the highlight entry)
    assert highlight_fragment("nothing here", ["spark"]) is None
    assert highlight_fragment(None, ["spark"]) is None
    # multi-term: earliest of any term; all terms tagged
    f3 = highlight_fragment("aa bbb spark join", ["join", "spark"])
    assert "<em>spark</em>" in f3 and "<em>join</em>" in f3


def test_search_after_equals_offset(spark):
    from search_replica_spark.operators.fulltext import search_after_page

    df = spark.createDataFrame(
        [(i % 3, i) for i in range(100)], "grp int, id int"
    )
    full = [tuple(r) for r in df.orderBy("grp", "id").collect()]
    after = full[39]
    page = [tuple(r) for r in
            search_after_page(df, ["grp", "id"], list(after), 25).collect()]
    assert page == full[40:65]
    # tail page shorter than size
    tail = [tuple(r) for r in
            search_after_page(df, ["grp", "id"], list(full[89]), 25).collect()]
    assert tail == full[90:]


def test_phrase_defaults_to_live_mask_on_multigen(spark, tmp_path):
    """phrase_topk must hide tombstoned + superseded docs WITHOUT the caller
    passing live= (parity with every other query entry point)."""
    a = _mk_docs(
        [("r0", f"a/{i}.py", f"alpha table hash w{i % 5}") for i in range(20)]
    )
    idx = str(tmp_path / "plidx")
    add_generation(spark, spark.createDataFrame(a), idx, PCFG)
    # gen 1: update a/0 so it no longer contains the phrase; delete a/1
    upd = _mk_docs([("r0", "a/0.py", "alpha beta nothing here")])
    add_generation(spark, spark.createDataFrame(upd), idx, PCFG)
    dels = _mk_docs([("r0", "a/1.py", "x")])
    dels["_change_type"] = "delete"
    add_generation(spark, spark.createDataFrame(dels), idx, PCFG)

    mg = MultiGenReader(spark, idx)
    hits = phrase_topk(mg, "table hash", 25)  # NO live= argument
    _, doc_ids = mg.doc_arrays()
    hit_paths = set()
    import os as _os

    docs = (
        spark.read.parquet(_os.path.join(mg.live_gens[0]["dir"], "docs"))
        .select("doc_id", "path")
        .collect()
    )
    id2path = {r["doc_id"]: r["path"] for r in docs}
    for d, _s in hits:
        hit_paths.add(id2path.get(d, "?"))
    assert len(hits) == 18  # 20 - updated-away - deleted
    assert "a/0.py" not in hit_paths and "a/1.py" not in hit_paths


def test_range_match_keyword_bounds(spark, tmp_path):
    """ES keyword-range: lexicographic value bounds — 'fritz' > 'fr' is
    OUTSIDE [de, fr] even though it extends 'fr'."""
    rows = [("r0", f"d/{i}.py", l) for i, l in
            enumerate(["de", "fr", "fritz", "zz", "aa", "en"])]
    df = _mk_docs([(r, p, "alpha beta") for r, p, _ in rows])
    df["lang"] = [l for _, _, l in rows]
    idx = str(tmp_path / "ridx")
    cfg = IndexConfig(
        shuffle_partitions=2,
        field_analyzers=(("content", "text"), ("lang", "keyword")),
    )
    build_index(spark, spark.createDataFrame(df), idx, cfg)
    from search_replica_spark.query.bm25 import range_match

    rd = IndexReader(spark, idx)
    _, doc_ids = rd.doc_arrays()
    docs = spark.read.parquet(idx + "/docs").select("doc_id", "lang").collect()
    by_id = {r["doc_id"]: r["lang"] for r in docs}
    got = {by_id[d] for d in range_match(rd, "lang", gte="de", lte="fr")}
    assert got == {"de", "en", "fr"}
    # open-ended bounds
    assert {by_id[d] for d in range_match(rd, "lang", gte="fr")} == {"fr", "fritz", "zz"}
    assert {by_id[d] for d in range_match(rd, "lang", lte="de")} == {"aa", "de"}


def test_prefix_seek_keeps_supplementary_plane_terms(spark, tmp_path):
    """The prefix seek's upper bound is the prefix's successor, not
    ``prefix + '\\uffff'``: a term holding a supplementary-plane codepoint
    (above U+FFFF in codepoint and UTF-8 byte order) is in the prefix's
    range, a term starting with the successor is not, and prefix_match
    returns exactly the brute-force startswith set. A range whose ``lte``
    is an existing value includes that value."""
    from search_replica_spark.query.bm25 import prefix_match, prefix_successor, range_match

    langs = ["a", "a\U0001F600", "a\U0001F600z", "a\uffff", "ab", "b", "b\U0001F600",
             "a\U0010FFFF", "`z"]
    df = _mk_docs([("r0", f"d/{i}.py", "alpha beta") for i in range(len(langs))])
    df["lang"] = langs
    idx = str(tmp_path / "pidx")
    cfg = IndexConfig(
        shuffle_partitions=2,
        field_analyzers=(("content", "text"), ("lang", "keyword")),
    )
    build_index(spark, spark.createDataFrame(df), idx, cfg)
    rd = IndexReader(spark, idx)
    docs = pq.read_table(os.path.join(idx, "docs"), columns=["doc_id", "lang"]).to_pydict()
    by_id = dict(zip(docs["doc_id"], docs["lang"]))
    for prefix in ("a", "a\U0001F600", "a\U0010FFFF", "b"):
        got = prefix_match(rd, "lang:" + prefix, max_expansions=None)
        want = sorted(d for d, v in by_id.items() if v.startswith(prefix))
        assert got == want, prefix
        assert rd.expand_prefix("lang:" + prefix, None) == sorted(
            "lang:" + v for v in set(langs) if v.startswith(prefix))
    assert "lang:b" in rd.expand_prefix("lang:", None)  # the successor of lang:a exists
    assert prefix_successor("a") == "b"
    assert prefix_successor("a\U0010FFFF") == "b"
    assert prefix_successor("\U0010FFFF\U0010FFFF") is None
    assert prefix_successor("a\ud7ff") == "a\ue000"
    for lte in ("ab", "a\U0001F600", "b"):
        got = sorted(by_id[d] for d in range_match(rd, "lang", gte="a", lte=lte))
        assert got == sorted(v for v in langs if "a" <= v <= lte), lte
        assert lte in got


# ---------------------------------------------------------------------------
# mapping options: index:false + ignore_above (demo/mapping.json:7,27)
# ---------------------------------------------------------------------------


def test_mapping_options_noindex_and_ignore_above(spark, tmp_path):
    from search_replica_spark.analysis.fields import field_query_terms

    rows = _mk_docs([
        ("r0", "a/short.py", "alpha beta"),
        ("r0", "b/long.py", "gamma delta"),
    ])
    rows.loc[rows["path"] == "b/long.py", "lang"] = "golang"  # 6 > 4 chars
    idx = str(tmp_path / "mopt")
    cfg = IndexConfig(
        shuffle_partitions=4, store_source=True,
        field_analyzers=(
            ("content", "text"),
            ("lang", "keyword:4"),     # ignore_above=4
            ("commit", "noindex"),     # index: false
        ),
    )
    build_index(spark, spark.createDataFrame(rows), idx, cfg)
    terms = {r["term"] for r in
             spark.read.parquet(idx + "/dict").select("term").collect()}
    assert not any(t.startswith("commit:") for t in terms)  # noindex: absent
    assert "lang:py" in terms            # 2 chars <= 4: indexed
    assert "lang:golang" not in terms    # 6 chars > 4: skipped
    assert "content:alpha" in terms
    # the stored _source keeps both fields even though they're not indexed
    docs = spark.read.parquet(idx + "/docs").toPandas().set_index("path")
    assert docs.loc["b/long.py", "lang"] == "golang"
    assert docs.loc["a/short.py", "commit"] == "0" * 40
    # querying a noindex field fails the ES way
    with pytest.raises(ValueError, match="not indexed"):
        field_query_terms("commit", "deadbeef", kind="noindex")
