"""ES partial update (`_update {"doc": ...}`, reference postgres/table.go:
143-151) — stored _source, engine-side get→merge→reindex, and the pure
read-time merge operator."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from search_replica_spark.config import IndexConfig
from search_replica_spark.corpus import generate_corpus
from search_replica_spark.index.build import build_index
from search_replica_spark.query.bm25 import IndexReader, TermAtATimeScorer
from search_replica_spark.streaming.incremental import (
    MultiGenReader,
    add_generation,
    source_view,
)

CFG = IndexConfig(
    shuffle_partitions=4, store_source=True
)


@pytest.fixture(scope="module")
def corpus():
    return generate_corpus(80)


def _partial(rows: pd.DataFrame, **cols) -> pd.DataFrame:
    p = rows[["repo", "path"]].copy()
    for c in ("commit", "lang", "content"):
        p[c] = cols.get(c)
    p["_change_type"] = "update_partial"
    return p


def test_store_source_persists_content(spark, corpus, tmp_path):
    out = str(tmp_path / "idx")
    build_index(spark, spark.createDataFrame(corpus), out, CFG)
    docs = spark.read.parquet(out + "/docs")
    assert "content" in docs.columns and "commit" in docs.columns
    got = {r["path"]: r["content"] for r in docs.select("path", "content").collect()}
    want = dict(zip(corpus["path"], corpus["content"]))
    assert got == want


def test_partial_update_merges_and_supersedes(spark, corpus, tmp_path):
    idx = str(tmp_path / "idx")
    add_generation(spark, spark.createDataFrame(corpus), idx, CFG)
    # change lang only for 3 docs; content/commit stay
    upd = _partial(corpus.iloc[:3], lang="zz")
    st = add_generation(spark, spark.createDataFrame(upd), idx, CFG)
    assert st["n_docs"] == 3 and st["partial_updates_missing"] == 0
    cur = source_view(spark, idx).toPandas().set_index("path")
    assert len(cur) == len(corpus)  # supersession: one live row per doc
    for _, row in corpus.iterrows():
        assert cur.loc[row["path"], "content"] == row["content"]
        want_lang = "zz" if row["path"] in set(corpus.iloc[:3]["path"]) else row["lang"]
        assert cur.loc[row["path"], "lang"] == want_lang
    # the re-indexed docs supersede gen-0: each doc visible exactly once
    mg = MultiGenReader(spark, idx)
    assert int(mg._live.sum()) == len(corpus)


def test_partial_content_update_is_searchable(spark, corpus, tmp_path):
    idx = str(tmp_path / "idx")
    add_generation(spark, spark.createDataFrame(corpus), idx, CFG)
    upd = _partial(corpus.iloc[[5]], content="qqzzunique marker retained")
    add_generation(spark, spark.createDataFrame(upd), idx, CFG)
    mg = MultiGenReader(spark, idx)
    hits = mg.score("qqzzunique", 10)
    assert len(hits) == 1
    # and the lang column survived the content-only update
    cur = source_view(spark, idx).toPandas().set_index("path")
    assert cur.loc[corpus.iloc[5]["path"], "lang"] == corpus.iloc[5]["lang"]


def test_partial_to_missing_or_deleted_doc_is_dropped(spark, corpus, tmp_path):
    idx = str(tmp_path / "idx")
    add_generation(spark, spark.createDataFrame(corpus.iloc[:20]), idx, CFG)
    dels = corpus.iloc[[0]].copy()
    dels["_change_type"] = "delete"
    add_generation(spark, spark.createDataFrame(dels), idx, CFG)
    # one update to a deleted doc, one to a never-indexed doc, one real
    upd = pd.concat(
        [_partial(corpus.iloc[[0]], lang="aa"), _partial(corpus.iloc[[50]], lang="bb"),
         _partial(corpus.iloc[[1]], lang="cc")],
        ignore_index=True,
    )
    st = add_generation(spark, spark.createDataFrame(upd), idx, CFG)
    assert st["n_docs"] == 1 and st["partial_updates_missing"] == 2
    cur = source_view(spark, idx).toPandas().set_index("path")
    assert len(cur) == 19  # 20 - deleted
    assert cur.loc[corpus.iloc[1]["path"], "lang"] == "cc"
    assert corpus.iloc[0]["path"] not in cur.index


def test_seq_orders_partials_within_batch(spark, corpus, tmp_path):
    idx = str(tmp_path / "idx")
    add_generation(spark, spark.createDataFrame(corpus.iloc[:10]), idx, CFG)
    row = corpus.iloc[[2]]
    upd = pd.concat(
        [_partial(row, lang="first"), _partial(row, lang="last", commit="c2")],
        ignore_index=True,
    )
    upd["_seq"] = [1, 2]
    add_generation(spark, spark.createDataFrame(upd), idx, CFG)
    cur = source_view(spark, idx).toPandas().set_index("path")
    r = cur.loc[row["path"].iloc[0]]
    assert r["lang"] == "last" and r["commit"] == "c2"
    assert r["content"] == row["content"].iloc[0]


def test_partial_requires_store_source(spark, corpus, tmp_path):
    idx = str(tmp_path / "idx")
    cfg = IndexConfig(shuffle_partitions=4)
    add_generation(spark, spark.createDataFrame(corpus.iloc[:10]), idx, cfg)
    upd = _partial(corpus.iloc[[0]], lang="zz")
    with pytest.raises(ValueError, match="store_source"):
        add_generation(spark, spark.createDataFrame(upd), idx, cfg)


def test_source_view_tombstone_and_revive(spark, corpus, tmp_path):
    idx = str(tmp_path / "idx")
    add_generation(spark, spark.createDataFrame(corpus.iloc[:10]), idx, CFG)
    dels = corpus.iloc[[3]].copy()
    dels["_change_type"] = "delete"
    add_generation(spark, spark.createDataFrame(dels), idx, CFG)
    assert len(source_view(spark, idx).toPandas()) == 9
    # re-insert revives (upsert at a later generation than the tombstone)
    add_generation(spark, spark.createDataFrame(corpus.iloc[[3]]), idx, CFG)
    cur = source_view(spark, idx).toPandas()
    assert len(cur) == 10


def test_pure_operator_matches_engine_semantics(spark):
    from search_replica_spark.operators.doc_transform import partial_update_merge

    base = spark.createDataFrame(
        [(1, "a", "x"), (2, "b", "y")], "doc_id long, s string, t string"
    )
    upd = spark.createDataFrame(
        [(1, 1, None, "T1"), (1, 2, "S2", None)],
        "doc_id long, _seq int, s string, t string",
    )
    got = {r["doc_id"]: (r["s"], r["t"]) for r in partial_update_merge(base, upd).collect()}
    assert got == {1: ("S2", "T1"), 2: ("b", "y")}


def test_scripted_update(spark, corpus, tmp_path):
    from search_replica_spark.streaming.incremental import scripted_update

    idx = str(tmp_path / "idx")
    add_generation(spark, spark.createDataFrame(corpus.iloc[:20]), idx, CFG)
    langs = set(corpus.iloc[:5]["lang"]) | {"qq"}
    st = scripted_update(
        spark, idx,
        where=f"lang IN ({','.join(repr(l) for l in langs)})",
        set_exprs={"content": "concat(content, ' scriptmarkerzz')", "lang": "'qq'"},
        cfg=CFG,
    )
    n_touched = sum(1 for l in corpus.iloc[:20]["lang"] if l in langs)
    assert st["n_docs"] == n_touched > 0
    mg = MultiGenReader(spark, idx)
    assert int(mg._live.sum()) == 20  # superseded, not duplicated
    assert len(mg.score("scriptmarkerzz", 25)) == n_touched
    cur = source_view(spark, idx).toPandas()
    assert (cur["lang"] == "qq").sum() == n_touched


def test_get_docs_point_lookup_pushdown(spark, corpus, tmp_path):
    """GET by id over two generations reads each asked doc's stored row
    through ``stored_fields`` in the driver (its doc_idx row-group skipping
    is ``test_read_table_in_list_skips_row_groups``'s)."""
    from search_replica_spark.index.build import with_doc_ids

    idx = str(tmp_path / "idx")
    add_generation(spark, spark.createDataFrame(corpus.iloc[:30]), idx, CFG)
    add_generation(spark, spark.createDataFrame(corpus.iloc[30:60]), idx, CFG)
    ids = [
        r["doc_id"]
        for r in with_doc_ids(spark.createDataFrame(corpus.iloc[[2, 40]]))
        .select("doc_id").collect()
    ]
    got = IndexReader(None, idx).stored_fields(ids, ["path", "content"])
    rows = dict(zip(got["path"].to_pylist(), got["content"].to_pylist()))
    assert rows == {
        corpus.iloc[2]["path"]: corpus.iloc[2]["content"],
        corpus.iloc[40]["path"]: corpus.iloc[40]["content"],
    }


def test_streamed_partial_updates(spark, corpus, tmp_path):
    """update_partial rows flowing through the Structured Streaming loop
    (index_stream → foreachBatch → add_generation resolution)."""
    import os

    from search_replica_spark.streaming.incremental import index_stream

    in_dir = str(tmp_path / "in")
    idx = str(tmp_path / "sidx")
    os.makedirs(in_dir)
    schema = (
        "repo string, path string, commit string, lang string, content string, "
        "_change_type string"
    )
    base = corpus.iloc[:30].copy()
    base["_change_type"] = "insert"
    base.to_parquet(os.path.join(in_dir, "b0.parquet"), index=False)
    q = index_stream(spark, in_dir, idx, schema, CFG)
    q.awaitTermination(300)

    upd = _partial(corpus.iloc[:4], lang="st")
    upd = upd[["repo", "path", "commit", "lang", "content", "_change_type"]]
    # all-null object columns must still write as parquet strings
    upd = upd.astype({c: "string" for c in ("commit", "lang", "content")})
    upd.to_parquet(os.path.join(in_dir, "b1.parquet"), index=False)
    q = index_stream(spark, in_dir, idx, schema, CFG)
    q.awaitTermination(300)

    cur = source_view(spark, idx).toPandas()
    assert len(cur) == 30
    assert (cur["lang"] == "st").sum() == 4
    # content survived the lang-only update on every updated doc
    want = dict(zip(corpus.iloc[:4]["path"], corpus.iloc[:4]["content"]))
    got = {r.path: r.content for r in cur.itertuples() if r.lang == "st"}
    assert got == want


def test_merge_preserves_stored_source(spark, corpus, tmp_path):
    from search_replica_spark.streaming.incremental import merge_generations

    idx = str(tmp_path / "idx")
    add_generation(spark, spark.createDataFrame(corpus.iloc[:20]), idx, CFG)
    upd = _partial(corpus.iloc[:2], lang="m1")
    add_generation(spark, spark.createDataFrame(upd), idx, CFG)
    merge_generations(spark, idx, CFG)
    # merged docs store still carries content; a partial update still works
    cur = source_view(spark, idx).toPandas().set_index("path")
    assert len(cur) == 20 and "content" in cur.columns
    assert cur.loc[corpus.iloc[0]["path"], "lang"] == "m1"
    assert cur.loc[corpus.iloc[0]["path"], "content"] == corpus.iloc[0]["content"]
    upd2 = _partial(corpus.iloc[[5]], lang="m2")
    st = add_generation(spark, spark.createDataFrame(upd2), idx, CFG)
    assert st["n_docs"] == 1
    cur2 = source_view(spark, idx).toPandas().set_index("path")
    assert cur2.loc[corpus.iloc[5]["path"], "lang"] == "m2"
    assert cur2.loc[corpus.iloc[5]["path"], "content"] == corpus.iloc[5]["content"]


def test_scripted_update_adopts_plain_index(spark, corpus, tmp_path):
    """A scripted update on a plain build_index output must adopt it as
    generation 0 — never orphan the non-matching docs."""
    from search_replica_spark.streaming.incremental import scripted_update

    idx = str(tmp_path / "plain")
    build_index(spark, spark.createDataFrame(corpus.iloc[:30]), idx, CFG)
    target = corpus.iloc[0]["lang"]
    st = scripted_update(spark, idx, where=f"lang = '{target}'",
                         set_exprs={"lang": "'zz'"})
    assert st["n_docs"] >= 1
    cur = source_view(spark, idx).toPandas()
    assert len(cur) == 30  # every doc still visible
    n_target = sum(1 for l in corpus.iloc[:30]["lang"] if l == target)
    assert (cur["lang"] == "zz").sum() == n_target
    mg = MultiGenReader(spark, idx)
    assert int(mg._live.sum()) == 30 and len(mg.gens) == 2


def test_derive_index_cfg_pins_build_flags(spark, corpus, tmp_path):
    from search_replica_spark.streaming.incremental import derive_index_cfg

    pcfg = IndexConfig(
        shuffle_partitions=4,
        store_positions=True, store_source=True,
    )
    idx = str(tmp_path / "pidx")
    add_generation(spark, spark.createDataFrame(corpus.iloc[:10]), idx, pcfg)
    got = derive_index_cfg(idx, IndexConfig(shuffle_partitions=2))
    assert got.store_positions and got.store_source
    assert got.shuffle_partitions == 2  # tuning knob stays from base


def test_partial_batch_derives_flags_from_index(spark, corpus, tmp_path):
    """A partial batch handed a bare cfg must still resolve (and build the
    superseding generation) with the INDEX's flags."""
    idx = str(tmp_path / "didx")
    add_generation(spark, spark.createDataFrame(corpus.iloc[:10]), idx, CFG)
    upd = _partial(corpus.iloc[[1]], lang="dv")
    bare = IndexConfig(shuffle_partitions=4)  # no store_source
    st = add_generation(spark, spark.createDataFrame(upd), idx, bare)
    assert st["n_docs"] == 1
    cur = source_view(spark, idx).toPandas().set_index("path")
    r = cur.loc[corpus.iloc[1]["path"]]
    assert r["lang"] == "dv" and r["content"] == corpus.iloc[1]["content"]
    # and the new generation stored its source (flags derived, not bare)
    import json as _json
    import os as _os

    from search_replica_spark.streaming.incremental import _load_gens

    g1 = _load_gens(idx)[-1]
    with open(_os.path.join(g1["dir"], "stats.json")) as f:
        assert _json.load(f)["store_source"] is True


def test_adoption_resumes_after_partial_crash(spark, corpus, tmp_path):
    """A crash mid-adoption (some files moved, stats.json still at top)
    must be completed by the retry — never half-orphaned."""
    import os
    import shutil as sh

    from search_replica_spark.streaming.incremental import _adopt_plain_index

    idx = str(tmp_path / "plain")
    build_index(spark, spark.createDataFrame(corpus.iloc[:10]), idx, CFG)
    # simulate the crash: docs/ already moved, everything else not
    os.makedirs(os.path.join(idx, "gen=0"))
    sh.move(os.path.join(idx, "docs"), os.path.join(idx, "gen=0", "docs"))
    gens = _adopt_plain_index(idx)
    assert len(gens) == 1
    g = os.path.join(idx, "gen=0")
    for piece in ("docs", "postings", "dict", "stats.json"):
        assert os.path.exists(os.path.join(g, piece)), piece
    assert not os.path.exists(os.path.join(idx, "stats.json"))
    cur = source_view(spark, idx).toPandas()
    assert len(cur) == 10
    assert len(MultiGenReader(spark, idx).score("the license apache def", 10)) > 0

# ---------------------------------------------------------------------------
# explicit null assignment (`_unset`) — ES `{"doc": {"field": null}}` parity
# ---------------------------------------------------------------------------


def test_unset_explicitly_nulls_field(spark, corpus, tmp_path):
    """A null column means 'unchanged' (CDC shape); listing the column in
    `_unset` means 'set to NULL' (ES _update doc-merge shape)."""
    idx = str(tmp_path / "idx")
    add_generation(spark, spark.createDataFrame(corpus.iloc[:10]), idx, CFG)
    upd = _partial(corpus.iloc[[2]])  # all value cols None = unchanged
    upd["_unset"] = [["lang"]]
    add_generation(spark, spark.createDataFrame(upd), idx, CFG)
    cur = source_view(spark, idx).toPandas().set_index("path")
    r = cur.loc[corpus.iloc[2]["path"]]
    assert pd.isna(r["lang"])  # explicitly nulled
    assert r["content"] == corpus.iloc[2]["content"]  # untouched
    assert r["commit"] == corpus.iloc[2]["commit"]


def test_unset_with_seq_latest_action_wins(spark, corpus, tmp_path):
    idx = str(tmp_path / "idx")
    add_generation(spark, spark.createDataFrame(corpus.iloc[:10]), idx, CFG)
    row = corpus.iloc[[4]]
    upd = pd.concat(
        [_partial(row, lang="early", commit=None),
         _partial(row, commit="c9")],
        ignore_index=True,
    )
    upd["_seq"] = [1, 2]
    # seq1 unsets commit (then seq2 sets it: set wins — later action);
    # seq2 unsets lang (after seq1 set it: unset wins — later action)
    upd["_unset"] = [["commit"], ["lang"]]
    add_generation(spark, spark.createDataFrame(upd), idx, CFG)
    cur = source_view(spark, idx).toPandas().set_index("path")
    r = cur.loc[row["path"].iloc[0]]
    assert pd.isna(r["lang"]) and r["commit"] == "c9"
    assert r["content"] == row["content"].iloc[0]


# ---------------------------------------------------------------------------
# adoption crash windows + metrics after merge
# ---------------------------------------------------------------------------


def test_adoption_completes_after_commit_crash(spark, corpus, tmp_path):
    """Crash AFTER the generations.json commit but BEFORE the stats.json
    move: the next add_generation must complete the move, build into gen=1
    (never overwrite the adopted gen=0), and keep every doc visible."""
    import json as _json
    import os
    import shutil as _shutil

    idx = str(tmp_path / "idx")
    build_index(spark, spark.createDataFrame(corpus.iloc[:20]), idx, CFG)
    gen0 = os.path.join(idx, "gen=0")
    os.makedirs(gen0)
    for name in list(os.listdir(idx)):
        if name not in ("gen=0", "stats.json"):
            _shutil.move(os.path.join(idx, name), os.path.join(gen0, name))
    with open(os.path.join(idx, "stats.json")) as f:
        st = _json.load(f)
    with open(os.path.join(idx, "generations.json"), "w") as f:
        _json.dump([{"gen": 0, "dir": gen0, "n_docs": st["n_docs"],
                     "total_tokens": st["total_tokens"], "epoch_id": None,
                     "deleted_ids": []}], f)
    add_generation(spark, spark.createDataFrame(corpus.iloc[20:25]), idx, CFG)
    assert os.path.exists(os.path.join(gen0, "stats.json"))
    assert not os.path.exists(os.path.join(idx, "stats.json"))
    assert os.path.isdir(os.path.join(idx, "gen=1"))
    assert len(source_view(spark, idx).toPandas()) == 25


def test_metrics_not_inflated_by_merge(spark, corpus, tmp_path):
    from search_replica_spark.streaming.incremental import (
        merge_generations,
        read_metrics,
    )

    idx = str(tmp_path / "idx")
    add_generation(spark, spark.createDataFrame(corpus.iloc[:20]), idx, CFG)
    add_generation(spark, spark.createDataFrame(corpus.iloc[20:30]), idx, CFG)
    before = read_metrics(idx)
    assert before["docs_indexed"] == 30
    merge_generations(spark, idx, CFG)
    after = read_metrics(idx)
    assert after["docs_indexed"] == 30  # live gauge: merge must not inflate
