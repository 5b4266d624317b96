"""Incremental/CDC index maintenance (SURVEY §7 M7): generations, last-wins
visibility, rank-identity of append-only incremental vs full rebuild, and
the Structured Streaming wrapper."""

import os
import time

import pytest

from search_replica_spark.config import IndexConfig
from search_replica_spark.corpus import generate_corpus
from search_replica_spark.index.build import build_index
from search_replica_spark.oracle import OracleIndex
from search_replica_spark.query.bm25 import IndexReader, TermAtATimeScorer
from search_replica_spark.streaming.incremental import (
    MultiGenReader,
    add_generation,
    compact,
    index_stream,
)

CFG = IndexConfig(shuffle_partitions=4)
QUERIES = ["license apache", "def return", "VersubDelrel", "the", "zzznope"]


@pytest.fixture(scope="module")
def corpus3():
    c = generate_corpus(450)
    return c.iloc[:150], c.iloc[150:300], c.iloc[300:]


def test_incremental_equals_rebuild_append_only(spark, corpus3, tmp_path):
    a, b, c = corpus3
    inc_dir = str(tmp_path / "inc")
    for batch in (a, b, c):
        add_generation(spark, spark.createDataFrame(batch), inc_dir, CFG)

    full_dir = str(tmp_path / "full")
    import pandas as pd

    full = pd.concat([a, b, c], ignore_index=True)
    build_index(spark, spark.createDataFrame(full), full_dir, CFG)

    multi = MultiGenReader(spark, inc_dir)
    single = TermAtATimeScorer(IndexReader(spark, full_dir))
    assert multi.n_docs == 450
    assert abs(multi.avg_dl - IndexReader(spark, full_dir).avg_dl) < 1e-9
    for q in QUERIES:
        got = multi.score(q, 10)
        want = single.score(q, 10)
        assert [(d, round(s, 9)) for d, s in got] == [(d, round(s, 9)) for d, s in want], q


def test_last_wins_update_visibility(spark, corpus3, tmp_path):
    a, _, _ = corpus3
    inc_dir = str(tmp_path / "inc")
    add_generation(spark, spark.createDataFrame(a), inc_dir, CFG)
    # update one doc: same (repo, path), new content with a unique marker term
    upd = a.iloc[[0]].copy()
    old_content = upd["content"].iloc[0]
    upd["content"] = "qqmarkerqq unique replacement body"
    add_generation(spark, spark.createDataFrame(upd), inc_dir, CFG)

    multi = MultiGenReader(spark, inc_dir)
    hits = multi.score("qqmarkerqq", 10)
    assert len(hits) == 1  # new version visible
    from search_replica_spark.oracle import doc_id_of

    did = doc_id_of(upd["repo"].iloc[0], upd["path"].iloc[0])
    assert hits[0][0] == did
    # a term only in the OLD content of that doc must not surface it anymore
    old_terms = [t for t in old_content.split() if t.isalpha()]
    # superseded version is tombstoned: the doc never appears via old-only
    # postings (its gen-0 slot is dead)
    res = multi.score("license", 200)
    # doc did may appear only once (from gen-1 version, which has no license)
    assert [d for d, _ in res].count(did) == 0


def test_compact_then_single_gen(spark, corpus3, tmp_path):
    a, b, _ = corpus3
    inc_dir = str(tmp_path / "inc")
    add_generation(spark, spark.createDataFrame(a), inc_dir, CFG)
    upd = a.iloc[[3]].copy()
    upd["content"] = "compacted marker body"
    add_generation(spark, spark.createDataFrame(upd), inc_dir, CFG)

    # current snapshot = a with row 3 replaced
    snap = a.copy()
    snap.iloc[3, snap.columns.get_loc("content")] = "compacted marker body"
    compact(spark, spark.createDataFrame(snap), inc_dir, CFG)

    multi = MultiGenReader(spark, inc_dir)
    assert len(multi.gens) == 1
    assert multi.n_docs == len(a)
    oracle = OracleIndex.build(snap)
    for q in ("compacted", "license apache"):
        got = multi.score(q, 10)
        want = oracle.score(q, 10)
        assert [(d, round(s, 9)) for d, s in got] == [(d, round(s, 9)) for d, s in want], q


def test_structured_streaming_ingest(spark, corpus3, tmp_path):
    a, b, _ = corpus3
    in_dir = str(tmp_path / "in")
    idx_dir = str(tmp_path / "sidx")
    os.makedirs(in_dir)
    schema = "repo string, path string, commit string, lang string, content string"

    a.to_parquet(os.path.join(in_dir, "batch0.parquet"), index=False)
    q = index_stream(spark, in_dir, idx_dir, schema, CFG)
    q.awaitTermination(300)
    assert MultiGenReader(spark, idx_dir).n_docs == len(a)

    # second file arrives; restart the stream — checkpoint must dedupe batch0
    b.to_parquet(os.path.join(in_dir, "batch1.parquet"), index=False)
    q = index_stream(spark, in_dir, idx_dir, schema, CFG)
    q.awaitTermination(300)
    multi = MultiGenReader(spark, idx_dir)
    assert multi.n_docs == len(a) + len(b)
    assert len(multi.gens) == 2
