"""Index format 2: postings as plain (term_id, doc_idx, tf[, positions])
rows with a (term, term_id, df, start) dictionary, checked against the
corpus's own analysis; the build's contiguity check; the refusal of an
older index; and the crash safety and writer lock of the generational
write path."""

import json
import os
import subprocess
import sys
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from search_replica_spark.analysis import tokenize_text
from search_replica_spark.analysis.fields import field_query_terms
from search_replica_spark.config import IndexConfig
from search_replica_spark.corpus import generate_corpus
from search_replica_spark.index.build import _postings_layout, build_index
from search_replica_spark.index.manifest import part_files
from search_replica_spark.oracle import OracleIndex, doc_id_of
from search_replica_spark.query.bm25 import IndexReader, TermAtATimeScorer, bm25_topk_spark
from search_replica_spark.streaming import incremental
from search_replica_spark.streaming.incremental import (
    IndexLocked,
    MultiGenReader,
    add_generation,
    compact,
    merge_generations,
)


def _expected_rows(corpus: pd.DataFrame, analyze) -> list[tuple]:
    """(term, doc_idx, tf, positions) of every posting, from the corpus:
    doc_idx is the doc's rank in doc_id order, ``analyze(row)`` yields
    (term, token position) pairs."""
    ids = [doc_id_of(r, p) for r, p in zip(corpus["repo"], corpus["path"])]
    rank = {d: i for i, d in enumerate(sorted(ids))}
    out = []
    for (_i, row), d in zip(corpus.iterrows(), ids):
        pos: dict[str, list[int]] = {}
        for term, p in analyze(row):
            pos.setdefault(term, []).append(p)
        out += [(t, rank[d], len(ps), tuple(sorted(ps))) for t, ps in pos.items()]
    return sorted(out)


def _content_tokens(row):
    return [(t, i) for i, t in enumerate(tokenize_text(row["content"]))]


def _index_rows(idx: str, positions: bool) -> list[tuple]:
    dic = pq.read_table(os.path.join(idx, "dict")).to_pandas()
    term = dict(zip(dic["term_id"], dic["term"]))
    rows = pa.concat_tables(
        [pq.read_table(f) for f in part_files(os.path.join(idx, "postings"))]
    ).to_pandas()
    pos = rows["positions"] if positions else [()] * len(rows)
    return sorted(
        (term[t], int(d), int(tf), tuple(int(x) for x in p))
        for t, d, tf, p in zip(rows["term_id"], rows["doc_idx"], rows["tf"], pos)
    )


def _assert_dictionary_matches_footers(idx: str) -> list[np.ndarray]:
    """dict.start/df address each term's rows in the concatenation of the
    part files in name order; returns each file's term_id column."""
    files = part_files(os.path.join(idx, "postings"))
    cols = [pq.ParquetFile(f).read(columns=["term_id"]).column(0).to_numpy() for f in files]
    tid = np.concatenate(cols)
    dic = pq.read_table(os.path.join(idx, "dict")).to_pandas()
    assert list(dic["term_id"]) == list(range(len(dic)))  # the rank in term order
    assert list(dic["term"]) == sorted(dic["term"])
    assert int(dic["df"].sum()) == tid.size
    for t, s, n in zip(dic["term_id"], dic["start"], dic["df"]):
        assert (tid[s:s + n] == t).all() and n > 0
    return cols


def test_postings_table_equals_corpus_analysis(small_index, small_corpus):
    """A multi-file build: its rows are exactly the corpus's (term,
    doc_idx, tf), the dictionary addresses them, and a hot term's rows
    run on from one part file into the next."""
    idx, stats = small_index
    cols = _assert_dictionary_matches_footers(idx)
    assert len(cols) >= 4
    spans = [set(a.tolist()) & set(b.tolist()) for a, b in zip(cols, cols[1:])]
    assert any(spans)  # some term spans two part files
    want = [r[:3] for r in _expected_rows(small_corpus, _content_tokens)]
    got = [r[:3] for r in _index_rows(idx, positions=False)]
    assert got == want
    assert stats["format"] == 2 and stats["postings_emitted"] == len(want)
    oracle = OracleIndex.build(small_corpus)
    dic = pq.read_table(os.path.join(idx, "dict")).to_pandas()
    assert dict(zip(dic["term"], dic["df"])) == {t: len(p) for t, p in oracle.postings.items()}


def test_positions_index_rows_carry_their_positions(spark, tmp_path):
    corpus = generate_corpus(200)
    idx = str(tmp_path / "pos")
    stats = build_index(spark, spark.createDataFrame(corpus), idx,
                        IndexConfig(shuffle_partitions=4, store_positions=True))
    _assert_dictionary_matches_footers(idx)
    assert _index_rows(idx, positions=True) == _expected_rows(corpus, _content_tokens)
    assert pq.read_schema(part_files(os.path.join(idx, "postings"))[0]).field(
        "positions").type == pa.list_(pa.int32())
    assert stats["bytes_compressed"] == sum(
        os.path.getsize(f) for f in part_files(os.path.join(idx, "postings")))


def test_field_analyzers_index_rows(spark, tmp_path):
    mapping = (("content", "text"), ("lang", "keyword"))
    corpus = generate_corpus(120)

    def analyze(row):
        for fld, kind in mapping:
            yield from ((t, i) for i, t in enumerate(field_query_terms(fld, row[fld], kind)))

    idx = str(tmp_path / "fielded")
    build_index(spark, spark.createDataFrame(corpus), idx,
                IndexConfig(shuffle_partitions=4, store_positions=True,
                            field_analyzers=mapping))
    _assert_dictionary_matches_footers(idx)
    assert _index_rows(idx, positions=True) == _expected_rows(corpus, analyze)


def _write_parts(d, *term_ids):
    os.makedirs(d)
    for i, tid in enumerate(term_ids):
        pq.write_table(pa.table({"term_id": pa.array(tid, pa.int32())}),
                       os.path.join(d, f"part-{i:05d}.parquet"))


def test_layout_check_accepts_a_run_across_files_and_refuses_a_split_term(tmp_path):
    ok = str(tmp_path / "ok")
    _write_parts(ok, [0, 0, 1], [1, 2])
    start, lineage = _postings_layout(ok, np.array([2, 2, 1]))
    assert start.tolist() == [0, 2, 4]
    assert [x["postings_emitted"] for x in lineage] == [3, 2]
    split = str(tmp_path / "split")
    _write_parts(split, [0, 1], [0, 2])
    with pytest.raises(ValueError, match="not contiguous"):
        _postings_layout(split, np.array([2, 1, 1]))
    inner = str(tmp_path / "inner")
    _write_parts(inner, [0, 1, 0])
    with pytest.raises(ValueError, match="not contiguous"):
        _postings_layout(inner, np.array([2, 1]))
    with pytest.raises(ValueError, match="do not match"):
        _postings_layout(ok, np.array([2, 2, 2]))


def test_index_without_format_key_is_refused(spark, small_corpus, tmp_path):
    idx = str(tmp_path / "v1")
    build_index(spark, spark.createDataFrame(small_corpus.iloc[:40]), idx,
                IndexConfig(shuffle_partitions=2))
    with open(os.path.join(idx, "stats.json")) as f:
        st = json.load(f)
    st.pop("format")
    with open(os.path.join(idx, "stats.json"), "w") as f:
        json.dump(st, f)
    for open_it in (lambda: IndexReader(spark, idx),
                    lambda: bm25_topk_spark(spark, idx, "license", 3),
                    lambda: add_generation(spark, spark.createDataFrame(small_corpus.iloc[40:50]),
                                           idx, IndexConfig(shuffle_partitions=2))):
        with pytest.raises(ValueError, match="format 1.*`build`.*`compact`.*`reindex`"):
            open_it()


# --- crash safety of the whole-index rewrites -------------------------------

QUERIES = ("license apache", "def return", "the license")


def _assert_equals_oracle(spark, idx, oracle):
    r = MultiGenReader(spark, idx).pin_driver()
    for q in QUERIES:
        got = TermAtATimeScorer(r).score(q, 10, live=r._live)
        want = oracle.score(q, 10)
        assert [d for d, _ in got] == [d for d, _ in want], q
        for (_, gs), (_, ws) in zip(got, want):
            assert gs == pytest.approx(ws, rel=1e-9), q


def test_crash_before_commit_leaves_the_index_readable(spark, tmp_path, monkeypatch):
    """merge_generations and compact build the new generation beside the
    committed ones and delete those only after the commit: a crash at the
    commit leaves an index that opens and answers as before."""
    corpus = generate_corpus(160)
    oracle = OracleIndex.build(corpus)
    idx = str(tmp_path / "gens")
    cfg = IndexConfig(shuffle_partitions=2)
    add_generation(spark, spark.createDataFrame(corpus.iloc[:90]), idx, cfg)
    add_generation(spark, spark.createDataFrame(corpus.iloc[90:]), idx, cfg)
    _assert_equals_oracle(spark, idx, oracle)
    before = json.load(open(os.path.join(idx, "generations.json")))

    def crash(*_a, **_k):
        raise RuntimeError("crash at the commit")

    for rewrite in (lambda: merge_generations(spark, idx, cfg),
                    lambda: compact(spark, spark.createDataFrame(corpus), idx, cfg)):
        with monkeypatch.context() as m:
            m.setattr(incremental, "_save_gens", crash)
            with pytest.raises(RuntimeError, match="crash at the commit"):
                rewrite()
        assert json.load(open(os.path.join(idx, "generations.json"))) == before
        _assert_equals_oracle(spark, idx, oracle)

    merge_generations(spark, idx, cfg)  # a later rewrite commits and cleans up
    gens = json.load(open(os.path.join(idx, "generations.json")))
    assert len(gens) == 1
    assert sorted(n for n in os.listdir(idx) if n.startswith("gen=")) == [
        os.path.basename(gens[0]["dir"])]
    _assert_equals_oracle(spark, idx, oracle)


# --- the inter-process writer lock ------------------------------------------

_HOLDER = """
import fcntl, os, sys
fd = os.open(sys.argv[1], os.O_RDWR | os.O_CREAT, 0o644)
fcntl.flock(fd, fcntl.LOCK_EX)
print("locked", flush=True)
sys.stdin.read()
"""


def test_second_writer_process_is_refused(spark, small_corpus, tmp_path):
    idx = str(tmp_path / "locked")
    os.makedirs(idx)
    batch = spark.createDataFrame(small_corpus.iloc[:30])
    holder = subprocess.Popen(
        [sys.executable, "-c", _HOLDER, os.path.join(idx, incremental.LOCK_FILE)],
        stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
    )
    try:
        assert holder.stdout.readline().strip() == "locked"
        t0 = time.monotonic()
        with pytest.raises(IndexLocked, match="another process"):
            add_generation(spark, batch, idx, IndexConfig(shuffle_partitions=2))
        assert time.monotonic() - t0 < 1.0
        assert not os.path.exists(os.path.join(idx, "generations.json"))
    finally:
        holder.stdin.close()
        holder.wait(timeout=30)
    stats = add_generation(spark, batch, idx, IndexConfig(shuffle_partitions=2))
    assert stats["n_docs"] == 30 and len(MultiGenReader(spark, idx)) == 30
    assert [g["n_docs"] for g in incremental._load_gens(idx)] == [30]


# --- the docs table's parquet policy -----------------------------------------

def _docs_chunks(index_dir: str) -> list[tuple[str, str, str, tuple]]:
    """(docs dir, column, codec, encodings) of every column chunk of every
    docs/ table under ``index_dir`` (one per generation)."""
    out = []
    for d, _dirs, _files in sorted(os.walk(index_dir)):
        if os.path.basename(d) != "docs":
            continue
        for f in part_files(d):
            md = pq.ParquetFile(f).metadata
            for rg in range(md.num_row_groups):
                for i in range(md.num_columns):
                    c = md.row_group(rg).column(i)
                    out.append((d, c.path_in_schema, c.compression, c.encodings))
    return out


def _assert_docs_policy(index_dir: str, n_tables: int) -> None:
    chunks = _docs_chunks(index_dir)
    assert len({d for d, *_ in chunks}) == n_tables
    assert {codec for _d, _c, codec, _e in chunks} == {"ZSTD"}
    for _d, col, _codec, encodings in chunks:
        if col in ("doc_id", "doc_idx"):
            assert encodings == ("DELTA_BINARY_PACKED",), col


def test_docs_are_written_zstd_with_delta_ints(spark, small_index, tmp_path):
    """build_index, add_generation and merge_generations write docs/ zstd
    with v2 pages: every column chunk is ZSTD, and the sorted doc_id and
    doc_idx columns are DELTA_BINARY_PACKED."""
    _assert_docs_policy(small_index[0], 1)
    corpus = generate_corpus(120)
    idx = str(tmp_path / "gens")
    cfg = IndexConfig(shuffle_partitions=2)
    add_generation(spark, spark.createDataFrame(corpus.iloc[:70]), idx, cfg)
    add_generation(spark, spark.createDataFrame(corpus.iloc[70:]), idx, cfg)
    _assert_docs_policy(idx, 2)
    merge_generations(spark, idx, cfg)
    _assert_docs_policy(idx, 1)
    assert len(MultiGenReader(spark, idx)) == 120


def _second_batch(corpus: pd.DataFrame) -> tuple[pd.DataFrame, pd.DataFrame, pd.DataFrame]:
    """A batch that upserts docs 3..11 and tombstones docs 20..25 of
    ``corpus``: (the batch, its upserted rows, its deleted rows)."""
    upd = corpus.iloc[3:12].copy()
    upd["content"] = upd["content"] + " license apache mixedmarker"
    upd["_change_type"] = "update"
    dele = corpus.iloc[20:26].copy()
    dele["_change_type"] = "delete"
    return pd.concat([upd, dele]), upd, dele


def _rewrite_snappy_v1(docs_dir: str) -> None:
    """Rewrite each docs/ part file in place as snappy with v1 pages and
    dictionary encodings (same rows, same order), as Spark's defaults
    wrote it; the stale Hadoop checksum files go with the old bytes."""
    for f in part_files(docs_dir):
        t = pq.read_table(f)
        pq.write_table(t, f, compression="snappy", data_page_version="1.0")
        crc = os.path.join(docs_dir, f".{os.path.basename(f)}.crc")
        if os.path.exists(crc):
            os.remove(crc)


def test_mixed_codec_generations_answer_as_one_policy(spark, tmp_path):
    """A generational index whose generation 0 docs/ is snappy with v1
    pages (an index written before docs/ took the postings' policy) and
    whose zstd generation 1 upserts and tombstones some of its docs:
    its dead slots equal the same history written with one policy, and
    its /_search answers, pinned and not, equal that index's and the
    versioned oracle's (superseded versions counted in N, avgdl and df;
    only live versions returned)."""
    from search_replica_spark.query.dsl import execute_request

    corpus = generate_corpus(200)
    batch1, upd, dele = _second_batch(corpus)
    cfg = IndexConfig(shuffle_partitions=2)
    mixed, same = str(tmp_path / "mixed"), str(tmp_path / "same")
    for idx in (mixed, same):
        add_generation(spark, spark.createDataFrame(corpus), idx, cfg)
    gen0_docs = os.path.join(incremental._load_gens(mixed)[0]["dir"], "docs")
    _rewrite_snappy_v1(gen0_docs)
    assert {c for *_x, c, _e in _docs_chunks(gen0_docs)} == {"SNAPPY"}
    assert not any("DELTA" in e for *_x, encs in _docs_chunks(gen0_docs) for e in encs)
    for idx in (mixed, same):
        add_generation(spark, spark.createDataFrame(batch1), idx, cfg)
    assert {c for *_x, c, _e in _docs_chunks(mixed)} == {"SNAPPY", "ZSTD"}

    ids0 = sorted(doc_id_of(r, p) for r, p in zip(corpus["repo"], corpus["path"]))
    changed = {doc_id_of(r, p) for rows in (upd, dele) for r, p in zip(rows["repo"], rows["path"])}
    want_dead = [i for i, d in enumerate(ids0) if d in changed]
    r_mixed, r_same = MultiGenReader(spark, mixed), MultiGenReader(spark, same)
    assert r_mixed._live_docs().dead.tolist() == r_same._live_docs().dead.tolist() == want_dead

    # the versioned oracle: superseded versions keep a slot of their own
    old = corpus[corpus.apply(lambda x: doc_id_of(x["repo"], x["path"]) in changed, axis=1)]
    old = old.assign(path=old["path"] + "\x00superseded")
    live = pd.concat([corpus.drop(old.index), upd.drop(columns="_change_type")])
    oracle = OracleIndex.build(pd.concat([old, live]))
    live_ids = {doc_id_of(r, p) for r, p in zip(live["repo"], live["path"])}

    bodies = [
        {"query": {"match": {"content": {"query": q, "operator": op}}}, "size": 20}
        for q in ("license apache", "mixedmarker", "def return", "the license")
        for op in ("or", "and")
    ]
    fetch = [
        {"query": {"match": {"content": "license apache"}}, "size": 15,
         "sort": [{"path": "asc"}]},
        {"query": {"match_all": {}}, "size": 0,
         "aggs": {"langs": {"terms": {"field": "lang"}}, "dl": {"stats": {"field": "doc_len"}}}},
    ]
    pinned = MultiGenReader(spark, mixed).pin_driver()
    for body in bodies + fetch:
        want = execute_request(r_same, body)
        assert execute_request(r_mixed, body) == want, body
        assert execute_request(pinned, body) == want, body
    for body in bodies:
        q = body["query"]["match"]["content"]
        full = [(d, s) for d, s in oracle.score(q["query"], oracle.n_docs, q["operator"])
                if d in live_ids]
        hits = execute_request(r_mixed, body)["hits"]
        assert hits["total"]["value"] == len(full), body
        assert [int(h["_id"]) for h in hits["hits"]] == [d for d, _ in full[:20]], body
        for h, (_d, s) in zip(hits["hits"], full):
            assert h["_score"] == pytest.approx(s, rel=1e-9), body
