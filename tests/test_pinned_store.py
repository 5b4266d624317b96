"""The columnar pinned block store: pinned and unpinned readers answer
``/_search`` bodies identically, the generational remap is bit-identical
to the pandas formulation it replaced, and a positional re-pin serves
phrase requests without Spark."""

import numpy as np
import pandas as pd
import pytest

from search_replica_spark.config import IndexConfig
from search_replica_spark.corpus import generate_corpus
from search_replica_spark.index.build import build_index
from search_replica_spark.query.bm25 import IndexReader
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
