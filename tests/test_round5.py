"""Round-5 features: streamed inline (parent/child array) maintenance,
epoch namespacing for multi-stream indexes, and fallback visibility.

Reference parity targets:
  - postgres/inline.go:111-170 — child CDC → parent inline-array edits;
  - search/scripts/inline_add.painless:1-17 / inline_del.painless:1-17 —
    replace-by-key-or-append / remove-or-noop element semantics;
  - demo/consistency_test.go:60-69 — streamed inline state must equal the
    batch-assembled state (ElementsMatch on the array).
"""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F

from search_replica_spark.config import IndexConfig

CHILD_SCHEMA = (
    "repo string, path string, ck long, value string, "
    "_change_type string, _old_repo string, _old_path string, _seq long"
)

PARENT_SCHEMA = (
    "repo string, path string, commit string, lang string, content string, "
    "inlined array<struct<ck:long, value:string>>"
)


def _cfg():
    return IndexConfig(
        shuffle_partitions=4,
        store_source=True,
        input_columns=("repo", "path", "commit", "lang", "content", "inlined"),
    )


def _parents(spark, n=20):
    rows = [
        ("r1", f"p{i}", "c0", "go", f"parent doc token{i} alpha", [])
        for i in range(n)
    ]
    return spark.createDataFrame(rows, PARENT_SCHEMA)


def _inline_state(spark, idx):
    from search_replica_spark.streaming.incremental import source_view

    return {
        r["path"]: sorted((e["ck"], e["value"]) for e in (r["inlined"] or []))
        for r in source_view(spark, idx).select("path", "inlined").collect()
    }


def _child_batches():
    """Three batches of child churn over 20 parents. Returns (batches,
    final_child_table) where final_child_table maps ck -> (parent_path,
    value) for the children alive at the end — the batch-rebuild truth."""
    b1 = [  # inserts: child 100+i on parent p{i%7}
        ("r1", f"p{i % 7}", 100 + i, f"v{i}", None, None, None, i)
        for i in range(12)
    ]
    b2 = [  # updates: even children change value; 104/105 move parents
        ("r1", f"p{(i % 7)}", 100 + i, f"w{i}", None, None, None, 100 + i)
        for i in range(0, 12, 2)
        if 100 + i not in (104,)
    ]
    b2.append(("r1", "p15", 104, "moved4", None, "r1", "p4", 200))
    b2.append(("r1", "p16", 105, "moved5", None, "r1", "p5", 201))
    b3 = [  # deletes: children 106..108 die; 999 delete-missing = noop
        ("r1", f"p{(i % 7)}", 100 + i, None, "delete", None, None, 300 + i)
        for i in range(6, 9)
    ]
    b3.append(("r1", "p3", 999, None, "delete", None, None, 400))
    final: dict[int, tuple[str, str]] = {}
    for i in range(12):
        final[100 + i] = (f"p{i % 7}", f"v{i}")
    for i in range(0, 12, 2):
        if 100 + i != 104:
            final[100 + i] = (f"p{i % 7}", f"w{i}")
    final[104] = ("p15", "moved4")
    final[105] = ("p16", "moved5")
    for i in range(6, 9):
        final.pop(100 + i)
    return [b1, b2, b3], final


def _expected_state(n_parents, final):
    exp = {f"p{i}": [] for i in range(n_parents)}
    for ck, (path, value) in final.items():
        exp.setdefault(path, []).append((ck, value))
    return {p: sorted(v) for p, v in exp.items()}


def test_apply_inline_updates_matches_batch_rebuild(spark, tmp_path):
    """Streamed child churn == rebuilding the arrays from the final child
    table (the reference's consistency_test inline assertion)."""
    from search_replica_spark.streaming.incremental import (
        add_generation,
        apply_inline_updates,
    )

    idx = str(tmp_path / "idx")
    cfg = _cfg()
    add_generation(spark, _parents(spark), idx, cfg)
    batches, final = _child_batches()
    for b in batches:
        apply_inline_updates(
            spark, spark.createDataFrame(b, CHILD_SCHEMA), idx, cfg
        )
    assert _inline_state(spark, idx) == _expected_state(20, final)


def test_inline_stream_end_to_end(spark, tmp_path):
    """inline_stream: child CDC parquet files → availableNow micro-batches
    → same final state; replays of committed epochs are no-ops."""
    from search_replica_spark.streaming.incremental import (
        _load_gens,
        add_generation,
        inline_stream,
        read_metrics,
    )

    idx = str(tmp_path / "idx")
    src = str(tmp_path / "child_cdc")
    cfg = _cfg()
    add_generation(spark, _parents(spark), idx, cfg)
    batches, final = _child_batches()
    for i, b in enumerate(batches):
        spark.createDataFrame(b, CHILD_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    q = inline_stream(
        spark, src, idx, CHILD_SCHEMA, cfg, max_files_per_trigger=1
    )
    q.awaitTermination(180)
    assert _inline_state(spark, idx) == _expected_state(20, final)
    gens = _load_gens(idx)
    inline_gens = [g for g in gens if g.get("epoch_source") == "inline"]
    assert len(inline_gens) == 3  # one generation per micro-batch
    m = read_metrics(idx)
    assert m.get("last_epochs", {}).get("inline") == 2
    # restarting the stream replays nothing (checkpoint already committed)
    n_before = len(_load_gens(idx))
    q2 = inline_stream(spark, src, idx, CHILD_SCHEMA, cfg)
    q2.awaitTermination(60)
    assert len(_load_gens(idx)) == n_before


def test_inline_epoch_namespace_isolated_from_main(spark, tmp_path):
    """A 'main' epoch N must not be treated as committed because an
    'inline' generation carries epoch N (and vice versa)."""
    from search_replica_spark.streaming.incremental import (
        add_generation,
        apply_inline_updates,
    )

    idx = str(tmp_path / "idx")
    cfg = _cfg()
    add_generation(spark, _parents(spark, 5), idx, cfg, epoch_id=0)
    ch = spark.createDataFrame(
        [("r1", "p0", 1, "x", None, None, None, 0)], CHILD_SCHEMA
    )
    st = apply_inline_updates(spark, ch, idx, cfg, epoch_id=0)
    assert not st.get("replayed")  # same epoch number, different namespace
    assert st["inline_parents_updated"] == 1
    # replay of the SAME inline epoch IS a no-op
    st2 = apply_inline_updates(spark, ch, idx, cfg, epoch_id=0)
    assert st2.get("replayed")
    # and a fresh main batch with epoch 1 still lands
    st3 = add_generation(spark, _parents(spark, 2), idx, cfg, epoch_id=1)
    assert not st3.get("replayed")


def test_inline_epoch_namespaces_survive_merge(spark, tmp_path):
    """merge_generations folds per-source watermarks: post-merge replays of
    pre-merge epochs from EITHER stream stay no-ops, and new epochs from
    either stream land."""
    from search_replica_spark.streaming.incremental import (
        add_generation,
        apply_inline_updates,
        merge_generations,
    )

    idx = str(tmp_path / "idx")
    cfg = _cfg()
    add_generation(spark, _parents(spark, 6), idx, cfg, epoch_id=0)
    ch = spark.createDataFrame(
        [("r1", "p1", 7, "y", None, None, None, 0)], CHILD_SCHEMA
    )
    apply_inline_updates(spark, ch, idx, cfg, epoch_id=0)
    merge_generations(spark, idx, cfg)
    st = apply_inline_updates(spark, ch, idx, cfg, epoch_id=0)
    assert st.get("replayed")  # inline epoch 0 folded into the merge
    st2 = add_generation(spark, _parents(spark, 2), idx, cfg, epoch_id=0)
    assert st2.get("replayed")  # main epoch 0 folded too
    ch2 = spark.createDataFrame(
        [("r1", "p2", 8, "z", None, None, None, 0)], CHILD_SCHEMA
    )
    st3 = apply_inline_updates(spark, ch2, idx, cfg, epoch_id=1)
    assert not st3.get("replayed")
    assert _inline_state(spark, idx)["p2"] == [(8, "z")]


MAP_PARENT_SCHEMA = (
    "repo string, path string, commit string, lang string, content string, "
    "inlined map<string, struct<ck:long, value:string>>"
)


def test_apply_inline_updates_map_kind(spark, tmp_path):
    """field_kind='map' — the reference's inline_add_map.painless variant
    (ctx._source[inline][String(pk)] = obj): keyed put / keyed remove on a
    map<string, struct> field, stub upsert included."""
    from search_replica_spark.streaming.incremental import (
        add_generation,
        apply_inline_updates,
        source_view,
    )

    idx = str(tmp_path / "idx")
    cfg = IndexConfig(
        shuffle_partitions=4, store_source=True,
        input_columns=("repo", "path", "commit", "lang", "content", "inlined"),
    )
    rows = [
        ("r1", f"p{i}", "c0", "go", f"parent token{i}",
         {str(i * 10): (i * 10, f"v{i}")})
        for i in range(4)
    ]
    add_generation(spark, spark.createDataFrame(rows, MAP_PARENT_SCHEMA), idx, cfg)
    ch = spark.createDataFrame(
        [
            ("r1", "p0", 99, "new", None, 1),       # insert new key on p0
            ("r1", "p1", 10, "replaced", None, 2),  # overwrite key "10"
            ("r1", "p2", 20, None, "delete", 3),    # remove key "20"
            ("r1", "p9", 77, "stub", None, 4),      # upsert missing parent
        ],
        "repo string, path string, ck long, value string, _change_type string, _seq long",
    )
    st = apply_inline_updates(spark, ch, idx, cfg, field_kind="map")
    assert st["inline_parents_updated"] == 3
    assert st["inline_parents_created"] == 1
    out = {
        r["path"]: {k: (v["ck"], v["value"]) for k, v in (r["inlined"] or {}).items()}
        for r in source_view(spark, idx).select("path", "inlined").collect()
    }
    assert out["p0"] == {"0": (0, "v0"), "99": (99, "new")}
    assert out["p1"] == {"10": (10, "replaced")}
    assert out["p2"] == {}
    assert out["p3"] == {"30": (30, "v3")}
    assert out["p9"] == {"77": (77, "stub")}


def test_concurrent_main_and_inline_streams_one_index(spark, tmp_path):
    """The documented deployment: index_stream AND inline_stream running
    against the SAME index from one driver. The per-index commit lock
    serializes their read-modify-write of generations.json; without it two
    foreachBatch threads race the same gen_id (r5 review finding #1)."""
    from search_replica_spark.streaming.incremental import (
        _load_gens,
        add_generation,
        index_stream,
        inline_stream,
        source_view,
    )

    idx = str(tmp_path / "idx")
    main_src = str(tmp_path / "main_cdc")
    child_src = str(tmp_path / "child_cdc")
    cfg = _cfg()
    add_generation(spark, _parents(spark, 10), idx, cfg)
    main_schema = PARENT_SCHEMA
    # three main batches of new parents and three child batches on gen-0
    # parents, written up front; both streams drain them concurrently
    # (maxFilesPerTrigger=1 → 3 micro-batches each, interleaved)
    for i in range(3):
        spark.createDataFrame(
            [("r2", f"q{i}", "c0", "go", f"new parent token{i}", [])],
            main_schema,
        ).coalesce(1).write.mode("append").parquet(main_src)
        spark.createDataFrame(
            [("r1", f"p{i}", 500 + i, f"cv{i}", None, None, None, i)],
            CHILD_SCHEMA,
        ).coalesce(1).write.mode("append").parquet(child_src)
    q1 = index_stream(spark, main_src, idx, main_schema, cfg,
                      max_files_per_trigger=1)
    q2 = inline_stream(spark, child_src, idx, CHILD_SCHEMA, cfg,
                       max_files_per_trigger=1)
    q1.awaitTermination(300)
    q2.awaitTermination(300)
    gens = _load_gens(idx)
    # commit log consistent: sequential unique gen ids, every dir present
    import os as _os

    assert [g["gen"] for g in gens] == list(range(len(gens)))
    assert all(_os.path.isdir(g["dir"]) for g in gens if g["dir"])
    assert len(gens) == 1 + 3 + 3
    sv = {r["path"]: r for r in source_view(spark, idx).collect()}
    for i in range(3):
        assert f"q{i}" in sv  # main stream's inserts all landed
        assert [(e["ck"], e["value"]) for e in sv[f"p{i}"]["inlined"]] == [
            (500 + i, f"cv{i}")
        ]  # inline stream's element edits all landed


def test_inline_unordered_duplicate_children_fail_fast(spark, tmp_path):
    from search_replica_spark.streaming.incremental import (
        add_generation,
        apply_inline_updates,
    )

    idx = str(tmp_path / "idx")
    cfg = _cfg()
    add_generation(spark, _parents(spark, 3), idx, cfg)
    dup = spark.createDataFrame(
        [("r1", "p0", 1, "a"), ("r1", "p0", 1, "b")],
        "repo string, path string, ck long, value string",
    )
    with pytest.raises(ValueError, match="_seq"):
        apply_inline_updates(spark, dup, idx, cfg)


def test_inline_upsert_missing_disabled_noops(spark, tmp_path):
    from search_replica_spark.streaming.incremental import (
        add_generation,
        apply_inline_updates,
    )

    idx = str(tmp_path / "idx")
    cfg = _cfg()
    add_generation(spark, _parents(spark, 3), idx, cfg)
    ch = spark.createDataFrame(
        [("r1", "p77", 5, "x")], "repo string, path string, ck long, value string"
    )
    st = apply_inline_updates(spark, ch, idx, cfg, upsert_missing=False)
    assert st["inline_parents_created"] == 0
    assert st["inline_parents_noop"] == 1
    assert "p77" not in _inline_state(spark, idx)


def test_snapshot_excludes_nested_checkpoints(tmp_path):
    """ADVICE r4: _checkpoint dirs nested below the index top level must
    not be hardlinked into snapshots."""
    import json
    import os

    from search_replica_spark.snapshot import snapshot_index
    from search_replica_spark.streaming.incremental import GENS_FILE

    idx = tmp_path / "idx"
    gen = idx / "gen=0"
    (gen / "_checkpoint" / "sources").mkdir(parents=True)
    (gen / "_checkpoint" / "sources" / "0").write_text("offsets")
    (idx / "_inline_checkpoint").mkdir(parents=True)
    (idx / "_inline_checkpoint" / "offsets").write_text("o")
    (gen / "dict").mkdir(parents=True)
    (gen / "dict" / "part-0.parquet").write_text("x")
    (idx / "stats.json").write_text("{}")
    with open(idx / GENS_FILE, "w") as f:
        json.dump(
            [{"gen": 0, "dir": str(gen), "n_docs": 1, "total_tokens": 1,
              "epoch_id": None, "deleted_ids": []}],
            f,
        )
    snap = tmp_path / "snap"
    snapshot_index(str(idx), str(snap))
    assert not os.path.exists(snap / "gen=0" / "_checkpoint")
    assert not os.path.exists(snap / "_inline_checkpoint")
    assert os.path.exists(snap / "gen=0" / "dict" / "part-0.parquet")


def test_sharded_serving_bit_equal_on_reference_queries(spark, small_index):
    """r4 verdict #2: doc-sharded serving as the default above a size
    threshold. Forced sharding must be BIT-EQUAL to the unsharded scorer
    on the full 50-query reference set, and no shard reader may ever hold
    O(corpus) doc arrays."""
    from search_replica_spark.corpus import reference_queries
    from search_replica_spark.query.bm25 import (
        IndexReader,
        TermAtATimeScorer,
        make_serving_readers,
        serve_topk,
    )

    idx_dir, stats = small_index
    n = stats["n_docs"]
    target = 150
    scorer = TermAtATimeScorer(IndexReader(spark, idx_dir))
    qs = reference_queries()
    for qtext, k in zip(qs["query_text"], qs["k"]):
        for mode in ("or", "and"):
            want = scorer.score(qtext, int(k), mode=mode)
            got = serve_topk(spark, idx_dir, qtext, int(k), mode=mode, min_docs=0,
                             target_docs=target)
            assert got == want, (qtext, mode)  # bit-equal, not just rank-equal
    # per-node memory contract: every shard's arrays are O(n/shards)
    readers = make_serving_readers(spark, idx_dir, min_docs=0,
                                   target_docs=target)
    sizes = [r.doc_arrays()[0].size for r in readers]
    assert len(readers) == -(-n // target)
    assert max(sizes) <= target + 1 < n
    assert sum(sizes) == n
    # cost switch: below the threshold, ONE unsharded reader serves
    assert len(make_serving_readers(spark, idx_dir)) == 1


def test_sharded_serving_multigen_with_deletes(spark, small_corpus, tmp_path):
    """Sharding over the generational slot space: supersessions and
    tombstones stay correct because each shard scopes its own liveDocs."""
    from search_replica_spark.query.bm25 import TermAtATimeScorer, serve_topk
    from search_replica_spark.streaming.incremental import (
        MultiGenReader,
        add_generation,
    )

    idx = str(tmp_path / "idx")
    cfg = IndexConfig(shuffle_partitions=4)
    sdf = spark.createDataFrame(small_corpus)
    add_generation(spark, sdf.limit(400), idx, cfg)
    add_generation(spark, sdf.limit(300), idx, cfg)  # 300 supersessions
    dels = sdf.limit(60).withColumn("_change_type", F.lit("delete"))
    add_generation(spark, dels, idx, cfg)  # 60 tombstones
    mg = MultiGenReader(spark, idx)
    full = TermAtATimeScorer(mg)
    for q in ["versub delrel", "apache license", "def", "license versub"]:
        want = full.score(q, 10, live=mg._live)
        got = serve_topk(spark, idx, q, 10, min_docs=0, target_docs=100)
        assert got == want, q


def _jobs_run_by(sc, fn):
    """(fn's result, the Spark jobs it ran from any thread): job ids are
    sequential, so count the ids between two marker jobs. A job group
    alone would miss the jobs of serve_topk's shard threads."""
    def marker():
        gid = f"marker-{time.monotonic_ns()}"
        sc.setJobGroup(gid, gid)
        try:
            sc.parallelize([0], 1).count()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return max(sc.statusTracker().getJobIdsForGroup(gid))

    start = marker()
    out = fn()
    return out, marker() - start - 1


def test_sharded_serve_topk_reads_the_dictionary_once(
    spark, small_index, small_corpus, tmp_path, monkeypatch
):
    """A sharded serve_topk reads the query terms' dictionary dfs once per
    call and hands them to every shard reader, and it starts no Spark job:
    each shard reads its doc arrays, liveDocs and postings from the index
    parquet in the driver, on a plain and on a generational index."""
    from search_replica_spark.query import bm25
    from search_replica_spark.query.bm25 import serve_topk
    from search_replica_spark.streaming.incremental import add_generation

    mg = str(tmp_path / "mg")
    cfg = IndexConfig(shuffle_partitions=4)
    sdf = spark.createDataFrame(small_corpus)
    add_generation(spark, sdf.limit(400), mg, cfg)
    add_generation(spark, sdf.limit(300), mg, cfg)
    sc = spark.sparkContext
    q = "license apache"
    dfs_reads = []
    global_dfs = bm25._global_dfs

    def counting_global_dfs(reader, terms):
        dfs_reads.append(terms)
        return global_dfs(reader, terms)

    monkeypatch.setattr(bm25, "_global_dfs", counting_global_dfs)
    for idx, target in ((small_index[0], 150), (mg, 200)):
        n_shards = len(bm25.make_serving_readers(spark, idx, min_docs=0, target_docs=target))
        for mode in ("or", "and"):
            dfs_reads.clear()
            hits, served = _jobs_run_by(
                sc, lambda: serve_topk(spark, idx, q, 10, mode=mode, min_docs=0,
                                       target_docs=target))
            assert len(hits) == 10 and n_shards > 2
            assert served == 0, (idx, mode, served)
            assert dfs_reads == [["apache", "license"]], (idx, mode, dfs_reads)


def test_exact_checker_rejects_unconvertible_floats(monkeypatch):
    """r4 verdict #3 (gate hardening): EXACT mode must fail loudly on a
    float operand that cannot convert, never soften to string compare."""
    import importlib.util
    import os as _os

    spec = importlib.util.spec_from_file_location(
        "check_harness",
        _os.path.join(_os.path.dirname(_os.path.dirname(__file__)),
                      "scripts", "check_harness.py"),
    )
    ch = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(ch)
    monkeypatch.setenv("EXACT", "1")
    assert ch.values_equal(1.5, 1.5)
    assert not ch.values_equal(1.5, 1.5000001)
    assert ch.values_equal(float("nan"), float("nan"))
    with pytest.raises(TypeError, match="EXACT"):
        ch.values_equal(1.5, "not-a-number")
    monkeypatch.setenv("EXACT", "0")
    assert ch.values_equal(1.5, "not-a-number") is False
    assert ch.values_equal(1.5, 1.5 + 1e-12)


def test_slot_lag_gauge_rises_then_drains(spark, tmp_path):
    """slot_lag (postgres/slot_lag.go:15-39 analogue): with a backlog the
    gauge shows pending files + seconds behind; after the stream drains the
    backlog it reads 0, and the per-batch metrics carry it."""
    from search_replica_spark.streaming.incremental import (
        index_stream,
        read_metrics,
        slot_lag,
    )

    idx = str(tmp_path / "idx")
    src = str(tmp_path / "in")
    schema = "repo string, path string, commit string, lang string, content string"
    for i in range(3):
        spark.createDataFrame(
            [("r", f"f{i}", "c", "go", f"content number{i}")], schema
        ).coalesce(1).write.mode("append").parquet(src)
    lag0 = slot_lag(idx, src)
    assert lag0["pending_input_files"] == 3  # backlog visible pre-stream
    assert lag0["seconds_behind_source"] > 0
    cfg = IndexConfig(shuffle_partitions=2)
    q = index_stream(spark, src, idx, schema, cfg)
    q.awaitTermination(180)
    lag1 = slot_lag(idx, src)
    assert lag1 == {"pending_input_files": 0, "seconds_behind_source": 0.0}
    m = read_metrics(idx)
    assert m["pending_input_files"] == 0
    # a new file arriving after the stream stopped shows up as lag again
    spark.createDataFrame([("r", "f9", "c", "go", "late arrival")], schema)\
        .coalesce(1).write.mode("append").parquet(src)
    assert slot_lag(idx, src)["pending_input_files"] >= 1


def test_metrics_endpoint_serves_live_slot_lag(spark, tmp_path):
    """serve_state(input_dir=...) computes the lag gauges at SCRAPE time —
    a file arriving while the stream is idle is visible immediately, like
    the reference's GaugeFunc (not only after the next batch)."""
    import urllib.request

    from search_replica_spark.serve import serve_state
    from search_replica_spark.streaming.incremental import index_stream

    idx = str(tmp_path / "idx")
    src = str(tmp_path / "in")
    schema = "repo string, path string, commit string, lang string, content string"
    spark.createDataFrame([("r", "f0", "c", "go", "tok zero")], schema)\
        .coalesce(1).write.mode("append").parquet(src)
    q = index_stream(spark, src, idx, schema, IndexConfig(shuffle_partitions=2))
    q.awaitTermination(120)
    srv, port = serve_state(idx, 0, input_dir=src)
    try:
        def scrape():
            with urllib.request.urlopen(
                f"http://127.0.0.1:{port}/metrics", timeout=10
            ) as r:
                return r.read().decode()

        body = scrape()
        assert "ssr_pending_input_files 0" in body
        # a file lands while no stream is running → next scrape sees it
        spark.createDataFrame([("r", "f1", "c", "go", "tok one")], schema)\
            .coalesce(1).write.mode("append").parquet(src)
        body = scrape()
        assert "ssr_pending_input_files 1" in body
        assert "ssr_seconds_behind_source" in body
    finally:
        srv.shutdown()


def test_no_dense_livedocs_in_query_entry_points(spark, small_corpus, tmp_path, monkeypatch):
    """r4 verdict #6: no query entry point may materialize a dense
    O(n_docs) bool mask from the sparse LiveDocs. The spy turns
    ``astype`` into a hard failure, then drives every constant-score /
    scoring entry point over a 2-generation reader."""
    from search_replica_spark.index.build import build_index
    from search_replica_spark.query.bm25 import (
        TermAtATimeScorer,
        exists_match,
        match_all,
        prefix_match,
    )
    from search_replica_spark.streaming.incremental import (
        LiveDocs,
        MultiGenReader,
        add_generation,
    )

    idx = str(tmp_path / "idx")
    cfg = IndexConfig(shuffle_partitions=4)
    half = len(small_corpus) // 2
    sdf = spark.createDataFrame(small_corpus)
    add_generation(spark, sdf.limit(half), idx, cfg)
    # second generation re-indexes a slice (supersedes) so liveness is real
    add_generation(spark, sdf.limit(half + 50), idx, cfg)

    def _boom(self, dtype):
        raise AssertionError("dense LiveDocs mask materialized in query path")

    monkeypatch.setattr(LiveDocs, "astype", _boom)
    rd = MultiGenReader(spark, idx)
    assert rd._live.dead.size > 0  # the spy only matters with real churn
    all_docs = match_all(rd)
    assert len(all_docs) == half + 50
    assert match_all(rd, k=10) == all_docs[:10]
    assert exists_match(rd, "content") is not None
    prefix_match(rd, "ver")
    TermAtATimeScorer(rd).score("versub", 5)


def test_livedocs_drop_dead_equals_dense_mask():
    import numpy as np

    from search_replica_spark.streaming.incremental import LiveDocs

    arr = np.arange(100, 200)
    for dead in ([], [0], [99], [0, 1, 2, 50, 98, 99], list(range(100))):
        ld = LiveDocs(100, np.array(dead, dtype=np.int64))
        m = np.ones(100, dtype=bool)
        m[np.array(dead, dtype=np.int64)] = False
        assert (ld.drop_dead(arr) == arr[m]).all()


def test_derive_index_cfg_restores_input_columns(spark, tmp_path):
    """input_columns is part of the creation-time contract: a later batch
    built with a DEFAULT cfg must still resolve the index's own columns."""
    from search_replica_spark.streaming.incremental import (
        add_generation,
        apply_inline_updates,
    )

    idx = str(tmp_path / "idx")
    add_generation(spark, _parents(spark, 4), idx, _cfg())
    ch = spark.createDataFrame(
        [("r1", "p0", 3, "derived")],
        "repo string, path string, ck long, value string",
    )
    # note: cfg=None — everything (including input_columns) derives from
    # the index's stats.json
    st = apply_inline_updates(spark, ch, idx, None)
    assert st["inline_parents_updated"] == 1
    assert _inline_state(spark, idx)["p0"] == [(3, "derived")]


def test_replicate_tables_topo_multi_table(spark, tmp_path):
    """Multi-table CDC orchestration (replication.go:237-367 +
    config.go:56-87): one index, a main-table stream and a child-table
    stream, drained parent-first. upsert_missing=False makes the ordering
    load-bearing — if the child stream ran before the main stream drained,
    every child edit would no-op and the final state assert would fail."""
    from search_replica_spark.plans.topo import CycleError
    from search_replica_spark.streaming.incremental import _load_gens
    from search_replica_spark.streaming.orchestrate import replicate_tables

    idx = str(tmp_path / "idx")
    main_src = str(tmp_path / "main_cdc")
    child_src = str(tmp_path / "child_cdc")
    cfg = _cfg()
    # child events land on disk BEFORE any parent exists in the index
    children = [
        ("r1", f"p{i % 7}", 100 + i, f"v{i}", None, None, None, i)
        for i in range(12)
    ]
    spark.createDataFrame(children, CHILD_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(child_src)
    spark.createDataFrame(
        [("r1", f"p{i}", "c0", "go", f"parent token{i}", []) for i in range(7)],
        PARENT_SCHEMA,
    ).coalesce(1).write.mode("append").parquet(main_src)
    spark.createDataFrame(
        [("r2", f"q{i}", "c0", "go", f"extra token{i}", []) for i in range(3)],
        PARENT_SCHEMA,
    ).coalesce(1).write.mode("append").parquet(main_src)

    tables = {
        "items": {
            "input_dir": child_src, "schema": CHILD_SCHEMA, "kind": "inline",
            "parent": "docs", "upsert_missing": False,
        },
        "docs": {"input_dir": main_src, "schema": PARENT_SCHEMA},
    }
    replicate_tables(spark, tables, idx, cfg)

    exp = {f"p{i}": [] for i in range(7)}
    exp.update({f"q{i}": [] for i in range(3)})
    for i in range(12):
        exp[f"p{i % 7}"].append((100 + i, f"v{i}"))
    assert _inline_state(spark, idx) == {p: sorted(v) for p, v in exp.items()}

    gens = _load_gens(idx)
    assert {g.get("epoch_source") for g in gens if g["dir"]} == {"docs", "items"}
    # per-table checkpoints exist and stay out of snapshots
    import os

    assert os.path.isdir(os.path.join(idx, "_checkpoint_docs"))
    assert os.path.isdir(os.path.join(idx, "_checkpoint_items"))
    from search_replica_spark.snapshot import snapshot_index

    snap = str(tmp_path / "snap")
    snapshot_index(idx, snap)
    for root, dirs, _files in os.walk(snap):
        assert not [d for d in dirs if d.startswith("_checkpoint")], root

    # a replay drains nothing new (both watermarks already committed)
    n = len(gens)
    replicate_tables(spark, tables, idx, cfg)
    assert len(_load_gens(idx)) == n

    # cfg=None derives a store_source config from the main table's schema
    # (the CLI path: `replicate --config cfg.json` passes no IndexConfig)
    idx_auto = str(tmp_path / "idx_auto")
    t2 = {n: dict(s) for n, s in tables.items()}
    t2["items"]["upsert_missing"] = True
    replicate_tables(spark, t2, idx_auto)
    assert _inline_state(spark, idx_auto)["p0"] == sorted(exp["p0"])

    # config validation: inline without a configured parent, and cycles
    with pytest.raises(ValueError):
        replicate_tables(
            spark,
            {"items": {"input_dir": child_src, "schema": CHILD_SCHEMA,
                       "kind": "inline"}},
            str(tmp_path / "idx2"), cfg,
        )
    with pytest.raises(CycleError):
        replicate_tables(
            spark,
            {"a": {"input_dir": main_src, "schema": PARENT_SCHEMA,
                   "kind": "inline", "parent": "b", "field": "inlined"},
             "b": {"input_dir": main_src, "schema": PARENT_SCHEMA,
                   "kind": "inline", "parent": "a", "field": "inlined"}},
            str(tmp_path / "idx3"), cfg,
        )


def test_span_near_matches_python_reference(spark, tmp_path):
    """span_near_topk (ordered greedy-chain spec) vs an independent pure-
    Python implementation, across slops and clause lengths; plus the
    invariant that a 2-term span_near at slop=0 IS the exact phrase query."""
    import math

    from search_replica_spark.analysis import tokenize_text
    from search_replica_spark.corpus import generate_corpus
    from search_replica_spark.index.build import build_index
    from search_replica_spark.oracle import doc_id_of
    from search_replica_spark.query.bm25 import IndexReader, phrase_topk, span_near_topk

    c = generate_corpus(400)
    out = str(tmp_path / "spidx")
    build_index(spark, spark.createDataFrame(c), out,
                IndexConfig(shuffle_partitions=4, store_positions=True))
    rd = IndexReader(spark, out)

    toks = {doc_id_of(r.repo, r.path): tokenize_text(r.content) for r in c.itertuples()}
    n = len(toks)
    avgdl = sum(len(t) for t in toks.values()) / n
    k1, b = 1.2, 0.75

    def canon(results):
        return [(d, round(s, 9)) for d, s in results]

    def py_span(terms, slop, k):
        q = [t for w in terms for t in tokenize_text(w)]
        df = {t: sum(1 for tk in toks.values() if t in set(tk)) for t in set(q)}
        if any(df[t] == 0 for t in q):
            return []
        idf_sum = sum(math.log(1 + (n - df[t] + 0.5) / (df[t] + 0.5)) for t in q)
        hits = []
        for d, tk in toks.items():
            pos = {t: [i for i, x in enumerate(tk) if x == t] for t in set(q)}
            import bisect
            ptf = 0.0
            for p0 in pos[q[0]]:
                cur = p0
                ok = True
                for t in q[1:]:
                    j = bisect.bisect_right(pos[t], cur)
                    if j == len(pos[t]):
                        ok = False
                        break
                    cur = pos[t][j]
                if ok:
                    w = cur - p0 - (len(q) - 1)
                    if w <= slop:
                        ptf += 1.0 / (w + 1)
            if ptf:
                dl = len(tk)
                hits.append((d, idf_sum * ptf / (ptf + k1 * (1 - b + b * dl / avgdl))))
        hits.sort(key=lambda t: (-t[1], t[0]))
        return hits[:k]

    cases = [
        (["apache", "license"], 0),
        (["apache", "license"], 2),
        (["apache", "license", "version"], 0),
        (["apache", "license", "version"], 3),
        (["the", "apache", "license"], 4),
        (["zzz", "license"], 3),          # absent first term
    ]
    matched_any = False
    for terms, slop in cases:
        got = canon(span_near_topk(rd, terms, 10, slop=slop))
        want = canon(py_span(terms, slop, 10))
        assert got == want, (terms, slop)
        matched_any = matched_any or bool(got)
    assert matched_any

    # 2-term slop=0 degenerates to the exact phrase query bit-for-bit
    got = canon(span_near_topk(rd, ["apache", "license"], 10, slop=0))
    assert got == canon(phrase_topk(rd, "apache license", 10, slop=0))


def test_span_first_matches_python_reference(spark, tmp_path):
    """span_first_topk: early-position gate (pos < end), tf = early count,
    plain BM25 term scoring — vs a pure-Python oracle."""
    import math

    from search_replica_spark.analysis import tokenize_text
    from search_replica_spark.corpus import generate_corpus
    from search_replica_spark.index.build import build_index
    from search_replica_spark.oracle import doc_id_of
    from search_replica_spark.query.bm25 import IndexReader, span_first_topk

    c = generate_corpus(300)
    out = str(tmp_path / "sfidx")
    build_index(spark, spark.createDataFrame(c), out,
                IndexConfig(shuffle_partitions=4, store_positions=True))
    rd = IndexReader(spark, out)

    toks = {doc_id_of(r.repo, r.path): tokenize_text(r.content) for r in c.itertuples()}
    n = len(toks)
    avgdl = sum(len(t) for t in toks.values()) / n
    k1, b = 1.2, 0.75

    def py_first(term, end, k):
        df = sum(1 for tk in toks.values() if term in set(tk))
        if df == 0:
            return []
        idf = math.log(1 + (n - df + 0.5) / (df + 0.5))
        hits = []
        for d, tk in toks.items():
            tf = sum(1 for p, x in enumerate(tk) if x == term and p < end)
            if tf:
                dl = len(tk)
                hits.append((d, idf * tf / (tf + k1 * (1 - b + b * dl / avgdl))))
        hits.sort(key=lambda t: (-t[1], t[0]))
        return hits[:k]

    matched_any = False
    for term, end in [("apache", 3), ("license", 8), ("def", 1), ("zzz", 5)]:
        got = [(d, round(s, 9)) for d, s in span_first_topk(rd, term, end, 10)]
        want = [(d, round(s, 9)) for d, s in py_first(term, end, 10)]
        assert got == want, (term, end)
        matched_any = matched_any or bool(got)
    assert matched_any


def test_completion_suggest_ranks_dict_prefix(spark, tmp_path):
    from search_replica_spark.config import IndexConfig
    from search_replica_spark.corpus import generate_corpus
    from search_replica_spark.index.build import build_index
    from search_replica_spark.query.bm25 import IndexReader, completion_suggest

    c = generate_corpus(200)
    out = str(tmp_path / "cidx")
    build_index(spark, spark.createDataFrame(c), out, IndexConfig(shuffle_partitions=4))
    rd = IndexReader(spark, out)

    dic = spark.read.parquet(out + "/dict").select("term", "df").collect()
    for prefix in ("s", "de", "li"):
        got = completion_suggest(rd, prefix, size=5)
        want = sorted(
            ((r["term"], int(r["df"])) for r in dic if r["term"].startswith(prefix)),
            key=lambda t: (-t[1], t[0]),
        )[:5]
        assert got == want, prefix
        assert all(t.startswith(prefix) for t, _ in got)
    assert completion_suggest(rd, "zzzzzz") == []


def test_terms_lookup_matches_and_caps(spark, tmp_path):
    from search_replica_spark.analysis import tokenize_text
    from search_replica_spark.config import IndexConfig
    from search_replica_spark.corpus import generate_corpus
    from search_replica_spark.index.build import build_index
    from search_replica_spark.oracle import doc_id_of
    from search_replica_spark.query.bm25 import IndexReader, terms_lookup

    c = generate_corpus(150)
    out = str(tmp_path / "tlidx")
    build_index(
        spark,
        spark.createDataFrame(c),
        out,
        IndexConfig(shuffle_partitions=4, store_source=True),
    )
    rd = IndexReader(spark, out)
    row = c.iloc[0]
    lid = doc_id_of(row.repo, row.path)

    full = terms_lookup(rd, spark, out, lid)
    # the lookup doc shares its own tokens, so it must match itself
    assert lid in full
    # python oracle: docs sharing ANY analyzed token with the lookup doc
    lut = set(tokenize_text(row.content))
    want = sorted(
        doc_id_of(r.repo, r.path)
        for r in c.itertuples()
        if lut & set(tokenize_text(r.content))
    )
    assert full == want

    capped = terms_lookup(rd, spark, out, lid, max_terms=3)
    assert set(capped) <= set(full)
    # cap keeps the 3 RAREST terms (df asc, term asc) — oracle the selection
    df = {}
    for r in c.itertuples():
        for t in set(tokenize_text(r.content)):
            df[t] = df.get(t, 0) + 1
    rare3 = [t for _, t in sorted((df[t], t) for t in lut if t in df)[:3]]
    want_capped = sorted(
        doc_id_of(r.repo, r.path)
        for r in c.itertuples()
        if set(rare3) & set(tokenize_text(r.content))
    )
    assert capped == want_capped

    # missing lookup doc -> empty, like ES document_missing
    assert terms_lookup(rd, spark, out, 999999999, max_terms=3) == []


def test_alias_zero_downtime_swap(spark, tmp_path, capsys):
    from search_replica_spark.__main__ import main
    from search_replica_spark.config import IndexConfig
    from search_replica_spark.corpus import generate_corpus
    from search_replica_spark.index.alias import (
        aliases,
        delete_alias,
        resolve_index,
        set_alias,
    )
    from search_replica_spark.index.build import build_index
    from search_replica_spark.query.bm25 import IndexReader, TermAtATimeScorer

    base = tmp_path / "indexes"
    base.mkdir()
    v1 = str(base / "products_v1")
    v2 = str(base / "products_v2")
    build_index(
        spark,
        spark.createDataFrame(generate_corpus(80)),
        v1,
        IndexConfig(shuffle_partitions=2),
    )
    build_index(
        spark,
        spark.createDataFrame(generate_corpus(140)),
        v2,
        IndexConfig(shuffle_partitions=2),
    )

    # create, read back, swap — each step atomic
    assert set_alias(str(base), "products", v1) is None
    alias_path = str(base / "products")
    assert resolve_index(alias_path) == v1
    assert set_alias(str(base), "products", v2) == v1  # the reindex swap
    assert resolve_index(alias_path) == v2
    assert aliases(str(base)) == {"products": v2}

    # a real index dir passes through untouched
    assert resolve_index(v1) == v1

    # queries through the alias see the NEW index after the swap
    r_alias = IndexReader(spark, resolve_index(alias_path))
    r_v2 = IndexReader(spark, v2)
    q = "apache license"
    assert TermAtATimeScorer(r_alias).score(q, 5) == TermAtATimeScorer(r_v2).score(q, 5)

    # CLI surface: set / ls / rm + alias-resolved metrics
    assert main(["alias", "set", "--base-dir", str(base), "--name", "p2", "--target", v1]) == 0
    assert main(["alias", "ls", "--base-dir", str(base)]) == 0
    assert main(["metrics", "--index-dir", alias_path]) == 0
    assert main(["alias", "rm", "--base-dir", str(base), "--name", "p2"]) == 0
    capsys.readouterr()

    # guard rails: aliasing a non-index fails; dangling resolution fails
    import pytest as _pytest

    with _pytest.raises(ValueError):
        set_alias(str(base), "bad", str(tmp_path / "nowhere"))
    assert delete_alias(str(base), "products")
    with _pytest.raises(FileNotFoundError):
        resolve_index(alias_path)


def test_simple_query_string_parser():
    from search_replica_spark.query.bm25 import parse_simple_query_string as p

    assert p('"table hash" | spark -join', "and") == [
        [("phrase", "table hash", 0, False)],
        [("term", "spark", 0, False), ("term", "join", 0, True)],
    ]
    # default OR: bare terms are separate groups; + binds the next atom in
    assert p("a b +c") == [
        [("term", "a", 0, False)],
        [("term", "b", 0, False), ("term", "c", 0, False)],
    ]
    # default AND: everything one group
    assert p("a b c", "and") == [
        [("term", "a", 0, False), ("term", "b", 0, False), ("term", "c", 0, False)]
    ]
    assert p('ver* -"x y"~2') == [
        [("prefix", "ver", 0, False)],
        [("phrase", "x y", 2, True)],
    ]
    assert p("") == []
    assert p("| + |") == []


def test_simple_query_string_matches_primitives(spark, tmp_path):
    from search_replica_spark.config import IndexConfig
    from search_replica_spark.corpus import generate_corpus
    from search_replica_spark.index.build import build_index
    from search_replica_spark.query.bm25 import (
        IndexReader,
        bool_topk,
        phrase_topk,
        prefix_match,
        simple_query_string,
    )

    c = generate_corpus(250)
    out = str(tmp_path / "sqsidx")
    build_index(spark, spark.createDataFrame(c), out,
                IndexConfig(shuffle_partitions=4, store_positions=True))
    rd = IndexReader(spark, out)
    n = rd.doc_arrays()[1].size

    # single term == bool must
    assert simple_query_string(rd, "license", 5) == bool_topk(rd, must=["license"], k=5)
    # single phrase == phrase_topk
    got = simple_query_string(rd, '"apache license"', 5)
    assert got == phrase_topk(rd, "apache license", 5)
    # single prefix == constant-score prefix match (doc_id order at equal score)
    ids = prefix_match(rd, "lic")
    assert simple_query_string(rd, "lic*", 5) == [(d, 1.0) for d in sorted(ids)[:5]]
    # OR of two terms: score(doc) = sum of its matching groups
    t1 = dict(bool_topk(rd, must=["apache"], k=n))
    t2 = dict(bool_topk(rd, must=["license"], k=n))
    want = {}
    for d in set(t1) | set(t2):
        want[d] = t1.get(d, 0.0) + t2.get(d, 0.0)
    got = simple_query_string(rd, "apache | license", k=n)
    assert dict(got) == want
    # negation removes docs from the group it belongs to
    got_neg = dict(simple_query_string(rd, "apache -license", k=n, default_operator="and"))
    want_neg = {d: s for d, s in t1.items() if d not in t2}
    assert got_neg == want_neg


def test_simple_query_string_parser_never_crashes():
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from search_replica_spark.query.bm25 import parse_simple_query_string

    @settings(max_examples=300, deadline=None)
    @given(st.text(max_size=60), st.sampled_from(["or", "and"]))
    def check(q, op):
        groups = parse_simple_query_string(q, op)
        # structural invariants: no empty groups, well-formed atoms
        for g in groups:
            assert g
            for kind, text, slop, negated in g:
                assert kind in ("term", "phrase", "prefix")
                assert isinstance(text, str) and text != ""
                assert isinstance(slop, int) and slop >= 0
                assert isinstance(negated, bool)

    check()


def test_chunking_reconstructs_without_overlap(spark):
    # stride == size (no overlap) must reassemble every document exactly:
    # the invariant that proves no token is dropped or duplicated
    from search_replica_spark.operators import REGISTRY
    from search_replica_spark.operators import textstats as ts

    sf_dir = "/root/testdata/sf0.001"
    fn = REGISTRY["text_chunk_sliding"][0]
    old_size, old_stride = ts.CHUNK_SIZE, ts.CHUNK_STRIDE
    ts.CHUNK_SIZE = ts.CHUNK_STRIDE = 8
    try:
        chunks = fn(spark, sf_dir).collect()
    finally:
        ts.CHUNK_SIZE, ts.CHUNK_STRIDE = old_size, old_stride
    import collections

    by_doc = collections.defaultdict(dict)
    for r in chunks:
        by_doc[r.doc_id][r.chunk_id] = r.chunk_text
    docs = {
        r.doc_id: r.text
        for r in spark.read.parquet(sf_dir + "/documents.parquet").collect()
    }
    assert set(by_doc) == set(docs)
    for did, parts in by_doc.items():
        assert sorted(parts) == list(range(len(parts)))  # contiguous ids
        rebuilt = " ".join(parts[i] for i in range(len(parts)))
        assert rebuilt == docs[did], did


def test_intervals_match_python_reference(spark, tmp_path):
    """intervals_match (unordered all_of, max_gaps) vs an independent
    brute-force oracle: min over ONE position per term of (max-min), match
    iff width + 1 - k <= max_gaps. Also: an interval match is order-free
    (terms reversed give the same doc set)."""
    from itertools import product

    from search_replica_spark.analysis import tokenize_text
    from search_replica_spark.corpus import generate_corpus
    from search_replica_spark.index.build import build_index
    from search_replica_spark.oracle import doc_id_of
    from search_replica_spark.query.bm25 import IndexReader, intervals_match

    c = generate_corpus(400)
    out = str(tmp_path / "ividx")
    build_index(spark, spark.createDataFrame(c), out,
                IndexConfig(shuffle_partitions=4, store_positions=True))
    rd = IndexReader(spark, out)

    toks = {doc_id_of(r.repo, r.path): tokenize_text(r.content) for r in c.itertuples()}

    def py_intervals(terms, max_gaps):
        need = sorted(set(terms))
        hits = []
        for d, tk in toks.items():
            pos = {t: [i for i, x in enumerate(tk) if x == t] for t in need}
            if any(not p for p in pos.values()):
                continue
            best = min(
                max(combo) - min(combo)
                for combo in product(*(pos[t] for t in need))
            )
            if best + 1 - len(need) <= max_gaps:
                hits.append(d)
        return sorted(hits)

    matched_any = False
    for terms, g in [
        (["apache", "license"], 0),
        (["apache", "license"], 3),
        (["license", "apache"], 3),          # unordered: same as above
        (["apache", "license", "version"], 0),
        (["apache", "license", "version"], 4),
        (["the", "license"], 2),
        (["zzz", "license"], 5),             # absent term -> no matches
    ]:
        got = intervals_match(rd, " ".join(terms), max_gaps=g)
        want = py_intervals(terms, g)
        assert got == want, (terms, g)
        matched_any = matched_any or bool(got)
    assert matched_any
    assert intervals_match(rd, "apache license", max_gaps=3) == intervals_match(
        rd, "license apache", max_gaps=3
    )


def test_regexp_match_python_reference(spark, tmp_path):
    """regexp_match vs a brute-force fullmatch scan over the vocabulary;
    prefix-extraction edge cases: trailing quantifier peels the last
    literal char, grouped alternation keeps the prefix, top-level
    alternation / leading metachar are refused (dictionary-scan guard)."""
    import re

    import pytest

    from search_replica_spark.analysis import tokenize_text
    from search_replica_spark.corpus import generate_corpus
    from search_replica_spark.index.build import build_index
    from search_replica_spark.oracle import doc_id_of
    from search_replica_spark.query.bm25 import IndexReader, regexp_match

    c = generate_corpus(300)
    out = str(tmp_path / "rxidx")
    build_index(spark, spark.createDataFrame(c), out,
                IndexConfig(shuffle_partitions=4))
    rd = IndexReader(spark, out)

    toks = {doc_id_of(r.repo, r.path): set(tokenize_text(r.content)) for r in c.itertuples()}

    def py_regexp(pattern):
        rx = re.compile(pattern)
        return sorted(d for d, tk in toks.items() if any(rx.fullmatch(t) for t in tk))

    matched_any = False
    for pat in ["lic.*", "l.cense", "licen(se|ce)", "apach.?", "versions?", "ap.*e"]:
        got = regexp_match(rd, pat, max_expansions=None)
        want = py_regexp(pat)
        assert got == want, pat
        matched_any = matched_any or bool(got)
    assert matched_any

    for bad in ["apache|zlib", ".*icense", "[al]pache", "(a|b)pache"]:
        with pytest.raises(ValueError):
            regexp_match(rd, bad)
