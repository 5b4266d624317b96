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
