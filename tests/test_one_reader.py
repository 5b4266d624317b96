"""One reader for plain and generational indexes: the index's own k1/b on
every path, and the NumPy liveness rule checked against the Spark window
it replaced (kept here as the reference)."""

import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from search_replica_spark.config import IndexConfig
from search_replica_spark.corpus import generate_corpus
from search_replica_spark.index.build import build_index
from search_replica_spark.index.manifest import _load_gens
from search_replica_spark.query.bm25 import IndexReader, TermAtATimeScorer, live_docs
from search_replica_spark.streaming.incremental import (
    MultiGenReader,
    add_generation,
    bm25_topk_spark_multigen,
)

CFG = IndexConfig(shuffle_partitions=4)
QUERIES = ["license apache", "def return", "the license", "apache license version"]


def _same(got, want):
    assert [d for d, _ in got] == [d for d, _ in want]
    for (_, s), (_, w) in zip(got, want):
        assert s == pytest.approx(w, rel=1e-9)


def test_generational_reader_scores_with_the_index_k1_b(spark, tmp_path):
    """A CDC index built with non-default k1/b answers with them on every
    path: the generational reader (pinned and not), the distributed plan
    and a plain reader over the same docs agree on rank and score."""
    cfg = IndexConfig(shuffle_partitions=4, k1=2.0, b=0.3)
    corpus = generate_corpus(200)
    idx, plain = str(tmp_path / "cdc"), str(tmp_path / "plain")
    add_generation(spark, spark.createDataFrame(corpus.iloc[:100]), idx, cfg)
    add_generation(spark, spark.createDataFrame(corpus.iloc[100:]), idx)  # flags derive
    build_index(spark, spark.createDataFrame(corpus), plain, cfg)
    pinned = MultiGenReader(spark, idx).pin_driver()
    for q in QUERIES:
        want = TermAtATimeScorer(IndexReader(spark, plain)).score(q, 10)
        assert want
        _same(MultiGenReader(spark, idx).score(q, 10), want)
        _same(pinned.score(q, 10), want)
        rows = bm25_topk_spark_multigen(spark, idx, q, 10).collect()
        _same([(r["doc_id"], r["score"]) for r in rows], want)


def test_distributed_plan_adds_each_slots_contributions_in_term_order(spark, small_index):
    """The distributed plan adds a slot's per-term contributions from 0.0
    in term order, as the in-driver scorer does, so no score depends on
    which task's rows reach the final aggregate first: on the 8-part
    index every slot's score equals, bit for bit, that fold of the plan's
    own per-posting formula."""
    import math
    import os

    import numpy as np
    import pyarrow.parquet as pq

    from search_replica_spark.query.bm25 import _bm25_slots

    idx = small_index[0]
    r = IndexReader(spark, idx)
    terms = ["apache", "def", "license", "return", "the", "version"]
    dic = pq.read_table(os.path.join(idx, "dict")).to_pandas().set_index("term").loc[terms]
    rows = pq.read_table(os.path.join(idx, "postings")).to_pandas()
    rows = rows[rows["term_id"].isin(dic["term_id"])].sort_values(["doc_idx", "term_id"])
    doc_len = pq.read_table(os.path.join(idx, "docs")).to_pandas().set_index("doc_idx")["doc_len"]
    idf = {int(i): math.log(1.0 + (r.n_docs - n + 0.5) / (n + 0.5))
           for i, n in zip(dic["term_id"], dic["df"])}
    want: dict[int, float] = {}
    for d, t, tf in zip(rows["doc_idx"].tolist(), rows["term_id"].tolist(), rows["tf"].tolist()):
        norm = tf + r.k1 * ((1.0 - r.b) + r.b * float(doc_len[d]) / r.avg_dl)
        want[d] = want.get(d, 0.0) + idf[t] * tf / norm
    got = {row["slot"]: row["score"] for row in _bm25_slots(
        spark, [(idx, 0)], terms, r.n_docs, r.avg_dl, r.k1, r.b, "or").collect()}
    assert len(np.unique(rows["doc_idx"])) == len(got) == len(want) > 100
    assert [d for d in got if got[d] != want[d]] == []


def _batch(rows: pd.DataFrame, change: str) -> pd.DataFrame:
    out = rows.copy()
    out["_change_type"] = change
    return out


@pytest.fixture(scope="module")
def churned_index(spark, tmp_path_factory):
    """Six generations: inserts; upserts of five docs plus new docs; a
    delete beside an upsert; a re-insert of the deleted doc; a delete and
    an insert of one key in one batch; a delete-only generation."""
    c = generate_corpus(60)
    edited = c.copy()
    edited["content"] = edited["content"] + " churnmarker"
    idx = str(tmp_path_factory.mktemp("churn") / "idx")
    batches = [
        _batch(c.iloc[:40], "insert"),
        pd.concat([_batch(edited.iloc[:5], "update"), _batch(c.iloc[40:50], "insert")]),
        pd.concat([_batch(c.iloc[[5]], "delete"), _batch(edited.iloc[[7]], "update")]),
        pd.concat([_batch(c.iloc[[5]], "insert"), _batch(c.iloc[50:55], "insert")]),
        pd.concat([_batch(c.iloc[[8]], "delete"), _batch(edited.iloc[[8]], "insert")]),
        _batch(c.iloc[[9, 41]], "delete"),
    ]
    for b in batches:
        add_generation(spark, spark.createDataFrame(b), idx, CFG)
    gens = _load_gens(idx)
    assert len(gens) == 6 and gens[-1]["dir"] is None
    return idx


def _window_dead_slots(spark, idx) -> list[int]:
    """The Spark liveness window the reader used before, as the reference:
    a slot is dead when a later generation holds its doc_id (row_number
    over the generations, newest first) or a strictly later tombstone
    covers it."""
    gens = _load_gens(idx)
    live, bases, acc = [g for g in gens if g["dir"]], {}, 0
    for g in live:
        bases[g["gen"]], acc = acc, acc + g["n_docs"]
    parts = [
        spark.read.parquet(f"{g['dir']}/docs").select(
            "doc_id", (F.col("doc_idx") + F.lit(bases[g["gen"]])).alias("slot"),
            F.lit(int(g["gen"])).alias("gen"))
        for g in live
    ]
    uni = parts[0]
    for p in parts[1:]:
        uni = uni.unionByName(p)
    w = Window.partitionBy("doc_id").orderBy(F.col("gen").desc())
    dead = uni.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") > 1).select("slot")
    del_gen: dict[int, int] = {}
    for g in gens:
        for d in g.get("deleted_ids", ()):
            del_gen[int(d)] = max(del_gen.get(int(d), -1), int(g["gen"]))
    dels = spark.createDataFrame(list(del_gen.items()), "doc_id long, _del_gen long")
    tomb = uni.join(dels, "doc_id").filter(F.col("_del_gen") > F.col("gen")).select("slot")
    return sorted({int(r["slot"]) for r in dead.unionByName(tomb).collect()})


def _dead(reader) -> list[int]:
    live = reader._live
    return [] if live is None else live.dead.tolist()


def test_numpy_liveness_equals_the_spark_window(spark, churned_index):
    idx = churned_index
    ref = _window_dead_slots(spark, idx)
    # 5 upserted + the delete-then-reinsert key (its gen-0 slot) + the
    # upsert beside the delete + the delete-and-insert key + the two keys
    # of the delete-only generation
    assert len(ref) == 10
    sc = spark.sparkContext
    gid = "numpy-liveness"
    sc.setJobGroup(gid, gid)
    try:
        full = IndexReader(spark, idx)
        got = _dead(full)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(gid)) == []
    assert full._doc_len is None  # liveness read doc_idx/doc_id only
    assert got == ref
    assert len(full) == full.n_docs - len(ref)
    # the Spark form of the rule keeps exactly the other slots
    n = sum(g["n_docs"] for g in full.live_gens)
    kept = sorted(r["slot"] for r in live_docs(spark, full.gens, ()).collect())
    assert kept == sorted(set(range(n)) - set(ref))
    # shard readers: the first holds gen 0's slots [0, 40), five of them
    # superseded by the upserts the second shard holds (gen 1: [40, 55))
    ids = full.doc_arrays()[1]
    assert sum(1 for s in ref if s < 40 and ids[s] in set(ids[40:55].tolist())) == 5
    for lo, hi in ((0, 40), (40, 57), (57, n)):
        shard = IndexReader(spark, idx, shard_range=(lo, hi))
        assert _dead(shard) == [s - lo for s in ref if lo <= s < hi]


def test_plain_index_is_one_generation_with_no_liveness(spark, small_index, monkeypatch):
    """A plain build reads as one tombstone-free generation: liveDocs is
    None and computing it reads nothing."""
    from search_replica_spark.query import bm25

    idx, stats = small_index
    r = IndexReader(spark, idx)
    assert [(g["gen"], g["dir"], g["n_docs"]) for g in r.gens] == [(0, idx, stats["n_docs"])]
    assert r.bases == {0: 0} and r.k1 == stats["k1"] and r.avg_dl == stats["avg_dl"]

    def _no_read(*a, **k):
        raise AssertionError("liveness read the docs of a tombstone-free generation")

    monkeypatch.setattr(bm25, "read_table", _no_read)
    assert r._live is None and len(r) == stats["n_docs"]
    assert bm25_topk_spark_multigen is bm25.bm25_topk_spark


def test_mapping_cli_reads_a_generational_index(churned_index, capsys):
    """`mapping` takes the flags from the generations' stats.json (a CDC
    index has no top-level one) and counts every generation's docs."""
    import json

    from search_replica_spark.__main__ import main

    assert main(["mapping", "--index-dir", churned_index]) == 0
    out = json.loads(capsys.readouterr().out)["mappings"]
    assert out["properties"]["content"] == {"type": "text"}
    assert out["n_docs"] == sum(g["n_docs"] for g in _load_gens(churned_index)) == 63
