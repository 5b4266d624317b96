"""Round-4 additions: schema-drift handling in the replication stream
(reference: postgres/replication.go:247-263 column rebind) and the live
/metrics + /state HTTP surface (reference: main.go:100-107, state.go:9-17)."""

import json
import os
import urllib.request

import pandas as pd
import pytest

from search_replica_spark.config import IndexConfig
from search_replica_spark.streaming.incremental import (
    index_stream,
    read_metrics,
    source_view,
)

CFG = IndexConfig(shuffle_partitions=4)
SCHEMA = "repo string, path string, commit string, lang string, content string"


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


def _drain(spark, in_dir, idx):
    q = index_stream(spark, in_dir, idx, SCHEMA, CFG)
    q.awaitTermination(600)
    return q


def test_schema_drift_missing_column_fails_fast(spark, tmp_path):
    """A file whose schema lost/renamed a bound column must kill the batch
    with a typed SchemaMismatch (K6 FATAL), not fabricate nulls."""
    in_dir, idx = str(tmp_path / "in"), str(tmp_path / "idx")
    os.makedirs(in_dir)
    good = _mk_docs([("r0", f"a/{i}.py", f"alpha w{i % 3}") for i in range(10)])
    good.to_parquet(os.path.join(in_dir, "b0.parquet"), index=False)
    _drain(spark, in_dir, idx)
    assert len(source_view(spark, idx).toPandas()) == 10

    bad = good.rename(columns={"lang": "language"})
    bad["path"] = "b/" + bad["path"]
    bad.to_parquet(os.path.join(in_dir, "b1.parquet"), index=False)
    with pytest.raises(Exception, match="lacks bound columns.*lang"):
        _drain(spark, in_dir, idx)
    # the bad batch committed nothing: the index still serves the good docs
    assert len(source_view(spark, idx).toPandas()) == 10


def test_schema_drift_additive_column_proceeds(spark, tmp_path):
    """An ADDED column is benign (the reference ignores unmapped columns):
    the batch indexes and the drift is surfaced in the metrics."""
    in_dir, idx = str(tmp_path / "in"), str(tmp_path / "idx")
    os.makedirs(in_dir)
    a = _mk_docs([("r0", f"a/{i}.py", f"beta w{i % 3}") for i in range(8)])
    a.to_parquet(os.path.join(in_dir, "b0.parquet"), index=False)
    _drain(spark, in_dir, idx)

    b = _mk_docs([("r0", f"c/{i}.py", f"gamma w{i % 3}") for i in range(5)])
    b["quality_score"] = 0.5
    b.to_parquet(os.path.join(in_dir, "b1.parquet"), index=False)
    _drain(spark, in_dir, idx)
    assert len(source_view(spark, idx).toPandas()) == 13
    assert read_metrics(idx)["schema_extra_columns"] == ["quality_score"]


def _get(url: str):
    with urllib.request.urlopen(url, timeout=10) as r:
        return r.status, r.read().decode()


def test_metrics_and_state_http_endpoints(spark, tmp_path):
    """The /metrics + /state HTTP surface a replica operator scrapes
    (Prometheus text + JSON healthcheck), served over a streamed index."""
    from search_replica_spark.serve import serve_state

    in_dir, idx = str(tmp_path / "in"), str(tmp_path / "idx")
    os.makedirs(in_dir)
    os.makedirs(idx)
    srv, port = serve_state(idx)
    try:
        # before any generation: healthcheck answers (empty), scrape works
        code, body = _get(f"http://127.0.0.1:{port}/state")
        assert code == 200 and json.loads(body)["status"] == "empty"

        a = _mk_docs([("r0", f"a/{i}.py", f"delta w{i % 3}") for i in range(12)])
        a.to_parquet(os.path.join(in_dir, "b0.parquet"), index=False)
        _drain(spark, in_dir, idx)

        code, body = _get(f"http://127.0.0.1:{port}/metrics")
        assert code == 200
        assert "# TYPE ssr_docs_indexed gauge" in body
        assert "ssr_docs_indexed 12" in body
        assert "ssr_last_batch_sec" in body

        code, body = _get(f"http://127.0.0.1:{port}/state")
        st = json.loads(body)
        assert st["status"] == "ok" and st["docs_indexed"] == 12
        assert st["live_generations"] == 1

        code, _ = _get(f"http://127.0.0.1:{port}/nope")
        assert code == 404
    except urllib.error.HTTPError as e:
        if e.code == 404:
            pass  # the /nope probe raises HTTPError in urllib — expected
        else:
            raise
    finally:
        srv.shutdown()


# ---------------------------------------------------------------------------
# snapshot / restore (ES snapshot-API parity)
# ---------------------------------------------------------------------------


def test_snapshot_restore_roundtrip(spark, tmp_path):
    """Snapshot a generational index, keep mutating the original, restore
    the snapshot elsewhere: the restored index serves the point-in-time
    state, rank-identical, with tombstones intact."""
    from search_replica_spark.snapshot import restore_index, snapshot_index
    from search_replica_spark.streaming.incremental import (
        MultiGenReader,
        add_generation,
    )

    idx = str(tmp_path / "idx")
    a = _mk_docs([("r0", f"a/{i}.py", f"snap w{i % 4} body") for i in range(20)])
    add_generation(spark, spark.createDataFrame(a), idx, CFG)
    dels = a.iloc[[3]].copy()
    dels["_change_type"] = "delete"
    add_generation(spark, spark.createDataFrame(dels), idx, CFG)
    want = MultiGenReader(spark, idx).score("snap", 50)

    snap = str(tmp_path / "repo" / "snap1")
    man = snapshot_index(idx, snap)
    assert man["live_generations"] == 1 and man["generations"] == 2

    # original keeps moving — the snapshot must not see this
    b = _mk_docs([("r0", "b/late.py", "snap late arrival")])
    add_generation(spark, spark.createDataFrame(b), idx, CFG)

    dst = str(tmp_path / "restored")
    man2 = restore_index(snap, dst)
    assert man2["generations"] == 2
    got = MultiGenReader(spark, dst).score("snap", 50)
    assert [(d, round(s, 9)) for d, s in got] == [(d, round(s, 9)) for d, s in want]
    assert len(MultiGenReader(spark, idx).score("snap", 50)) == len(want) + 1


def test_snapshot_refuses_overwrite_and_partial_invisible(spark, tmp_path):
    from search_replica_spark.snapshot import restore_index, snapshot_index
    from search_replica_spark.streaming.incremental import add_generation

    idx = str(tmp_path / "idx")
    a = _mk_docs([("r0", f"a/{i}.py", "guard body") for i in range(5)])
    add_generation(spark, spark.createDataFrame(a), idx, CFG)
    snap = str(tmp_path / "s1")
    snapshot_index(idx, snap)
    with pytest.raises(FileExistsError):
        snapshot_index(idx, snap)
    with pytest.raises(FileExistsError):
        restore_index(snap, idx)  # non-empty target
    with pytest.raises(FileNotFoundError):
        restore_index(str(tmp_path / "nope"), str(tmp_path / "d"))


# ---------------------------------------------------------------------------
# per-field norms (ES/Lucene per-field BM25)
# ---------------------------------------------------------------------------


def test_per_field_norms_build_and_scorer(spark, tmp_path):
    import math

    from search_replica_spark.index.build import build_index
    from search_replica_spark.query.bm25 import IndexReader, fielded_norms_topk

    rows = _mk_docs([
        ("r0", "a/0.py", "alpha beta gamma alpha"),
        ("r0", "a/1.py", "alpha"),
        ("r0", "a/2.py", "delta epsilon"),
    ])
    rows["lang"] = ["go", "py", "go"]
    idx = str(tmp_path / "fn")
    cfg = IndexConfig(
        shuffle_partitions=4,
        field_analyzers=(("content", "text"), ("lang", "keyword")),
    )
    st = build_index(spark, spark.createDataFrame(rows), idx, cfg)
    assert st["field_stats"]["lang"] == {"n": 3, "sum_dl": 3, "avg_dl": 1.0}
    assert st["field_stats"]["content"]["n"] == 3
    assert st["field_stats"]["content"]["sum_dl"] == 7
    assert abs(st["field_stats"]["content"]["avg_dl"] - 7 / 3) < 1e-12
    docs = spark.read.parquet(idx + "/docs").toPandas().set_index("path")
    assert docs.loc["a/0.py", "dl_content"] == 4 and docs.loc["a/0.py", "dl_lang"] == 1

    hits = fielded_norms_topk(
        IndexReader(spark, idx), ["content:alpha", "lang:go"], 10
    )
    got = {docs.reset_index().set_index("doc_id").loc[d, "path"]: s for d, s in hits}
    # hand computation: n_c=3, avg_c=7/3; n_l=3, avg_l=1
    k1, b = cfg.k1, cfg.b
    idf_a = math.log(1 + (3 - 2 + 0.5) / (2 + 0.5))   # alpha df=2
    idf_g = math.log(1 + (3 - 2 + 0.5) / (2 + 0.5))   # lang:go df=2
    def tfn(tf, dl, avg):
        return tf / (tf + k1 * (1 - b + b * dl / avg))
    want0 = idf_a * tfn(2, 4, 7 / 3) + idf_g * tfn(1, 1, 1.0)
    want1 = idf_a * tfn(1, 1, 7 / 3)
    want2 = idf_g * tfn(1, 1, 1.0)
    assert abs(got["a/0.py"] - want0) < 1e-12
    assert abs(got["a/1.py"] - want1) < 1e-12
    assert abs(got["a/2.py"] - want2) < 1e-12


def test_per_field_norms_survive_merge(spark, tmp_path):
    from search_replica_spark.streaming.incremental import (
        MultiGenReader,
        add_generation,
        merge_generations,
    )

    a = _mk_docs([("r0", f"a/{i}.py", "alpha beta") for i in range(6)])
    b = _mk_docs([("r0", f"b/{i}.py", "gamma delta kappa") for i in range(4)])
    idx = str(tmp_path / "fm")
    cfg = IndexConfig(
        shuffle_partitions=4,
        field_analyzers=(("content", "text"), ("lang", "keyword")),
    )
    add_generation(spark, spark.createDataFrame(a), idx, cfg)
    add_generation(spark, spark.createDataFrame(b), idx)  # flags derive
    st = merge_generations(spark, idx)
    assert st["field_stats"]["content"]["n"] == 10
    assert abs(st["field_stats"]["content"]["avg_dl"] - 2.4) < 1e-12
    merged, = MultiGenReader(spark, idx).live_gens
    docs = spark.read.parquet(merged["dir"] + "/docs")
    assert "dl_content" in docs.columns and "dl_lang" in docs.columns


# ---------------------------------------------------------------------------
# watermarked windowed aggregation (late-data handling)
# ---------------------------------------------------------------------------


def test_watermark_drops_late_events_across_restarts(spark, tmp_path):
    """Structured Streaming late-data contract: a window emits once the
    watermark passes its end; an event later than the watermark is
    DROPPED — even when it arrives in a later run (the watermark persists
    in the checkpoint), so emitted windows are never reopened."""
    import datetime as dt

    from search_replica_spark.streaming.windowed import windowed_counts_stream

    in_dir, out = str(tmp_path / "in"), str(tmp_path / "out")
    os.makedirs(in_dir)
    t = lambda h, m: dt.datetime(2026, 1, 1, h, m)  # noqa: E731

    def feed(name, rows):
        pd.DataFrame(
            {
                "event_id": range(len(rows)),
                "user_id": [1] * len(rows),
                "event_type": [r[0] for r in rows],
                "value": [1.0] * len(rows),
                # Spark 4 can't read pandas' default ns-precision parquet
                "ts": pd.Series([r[1] for r in rows], dtype="datetime64[us]"),
            }
        ).to_parquet(os.path.join(in_dir, name), index=False)

    # run 1: three events in the 10:00 window, then one at 12:30 that
    # advances the watermark to 12:20 — closing and emitting 10:00-11:00
    feed("b0.parquet", [("click", t(10, 5)), ("click", t(10, 20)),
                        ("view", t(10, 40)), ("click", t(12, 30))])
    windowed_counts_stream(spark, in_dir, out).awaitTermination(600)

    # run 2 (restart, same checkpoint): a LATE click at 10:30 (before the
    # 12:20 watermark → dropped) plus an on-time event at 14:00 that
    # closes the 12:00 window
    feed("b1.parquet", [("click", t(10, 30)), ("view", t(14, 0))])
    windowed_counts_stream(spark, in_dir, out).awaitTermination(600)

    res = spark.read.parquet(os.path.join(out, "result")).toPandas()
    w10 = res[(res["window_start"] == t(10, 0)) & (res["event_type"] == "click")]
    assert len(w10) == 1  # emitted exactly once, never reopened
    assert int(w10["n_events"].iloc[0]) == 2  # the late 10:30 click is NOT counted
    w12 = res[res["window_start"] == t(12, 0)]
    assert len(w12) == 1 and int(w12["n_events"].iloc[0]) == 1


def test_schema_check_survives_log_compaction(spark, tmp_path):
    """The file-source metadata log compacts every Nth batch into
    <N>.compact — the per-batch schema check must keep seeing (only) the
    compacted batch's files, so a drifted file still fails fast there."""
    in_dir, idx = str(tmp_path / "in"), str(tmp_path / "idx")
    os.makedirs(in_dir)
    spark.conf.set("spark.sql.streaming.fileSource.log.compactInterval", "2")
    try:
        for i in range(3):  # batch ids 0,1,2 — id 1 (and 3...) compact at interval 2
            rows = _mk_docs([(f"r{i}", f"a/{i}_{j}.py", f"w{j}") for j in range(4)])
            rows.to_parquet(os.path.join(in_dir, f"b{i}.parquet"), index=False)
            _drain(spark, in_dir, idx)
        assert len(source_view(spark, idx).toPandas()) == 12
        # drifted file arriving at a compaction boundary still fails fast
        bad = _mk_docs([("rx", "x/0.py", "w0")]).rename(columns={"lang": "language"})
        bad.to_parquet(os.path.join(in_dir, "b3.parquet"), index=False)
        with pytest.raises(Exception, match="lacks bound columns.*lang"):
            _drain(spark, in_dir, idx)
        assert len(source_view(spark, idx).toPandas()) == 12
    finally:
        spark.conf.unset("spark.sql.streaming.fileSource.log.compactInterval")


def test_per_field_norms_multigen(spark, tmp_path):
    """fielded_norms_topk over a generational index: merged per-field
    stats + unioned dl columns; superseded docs masked by liveDocs; a
    gen-1-only term is reachable with gen-aware normalization."""
    from search_replica_spark.query.bm25 import fielded_norms_topk
    from search_replica_spark.streaming.incremental import (
        MultiGenReader,
        add_generation,
    )

    a = _mk_docs([("r0", f"a/{i}.py", f"alpha shared{i % 2}") for i in range(8)])
    a["lang"] = ["go", "py"] * 4
    b = _mk_docs([("r0", "b/new.py", "omega alpha")])
    b["lang"] = ["go"]
    upd = a.iloc[[0]].copy()
    upd["content"] = "alpha replaced"
    idx = str(tmp_path / "mgfn")
    cfg = IndexConfig(
        shuffle_partitions=4,
        field_analyzers=(("content", "text"), ("lang", "keyword")),
    )
    add_generation(spark, spark.createDataFrame(a), idx, cfg)
    add_generation(spark, spark.createDataFrame(pd.concat([b, upd], ignore_index=True)), idx)
    mg = MultiGenReader(spark, idx)
    fs = mg.field_stats()
    assert fs["content"]["n"] == 10 and fs["lang"]["n"] == 10  # 8 + 2 (incl. superseded)
    hits = fielded_norms_topk(mg, ["content:omega", "lang:go"], 20, live=mg._live)
    ids = [d for d, _ in hits]
    from search_replica_spark.oracle import doc_id_of

    assert doc_id_of("r0", "b/new.py") == ids[0]  # omega + lang:go tops
    assert len(ids) == 5  # the 5 live lang:go docs (a/0 superseded, still go)


def test_cli_snapshot_restore_metrics(spark, tmp_path, capsys):
    """CLI surface for the no-Spark subcommands: snapshot → restore →
    metrics over the restored index."""
    from search_replica_spark.__main__ import main
    from search_replica_spark.streaming.incremental import add_generation

    idx = str(tmp_path / "idx")
    a = _mk_docs([("r0", f"a/{i}.py", f"cli w{i % 3}") for i in range(6)])
    add_generation(spark, spark.createDataFrame(a), idx, CFG)
    snap, dst = str(tmp_path / "snap"), str(tmp_path / "restored")

    assert main(["snapshot", "--index-dir", idx, "--snap-dir", snap]) == 0
    man = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert man["generations"] == 1 and man["files"] > 0

    assert main(["restore", "--snap-dir", snap, "--index-dir", dst]) == 0
    capsys.readouterr()
    assert main(["metrics", "--index-dir", dst]) == 0
    m = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert m["docs_indexed"] == 6 and m["live_generations"] == 1


def test_restored_index_accepts_fresh_stream(spark, tmp_path):
    """The snapshot excludes the checkpoint, so a restored index streams
    from batch id 0 again — stale epoch watermarks must not make the new
    stream's first batches look like replays (they'd be silently dropped)."""
    from search_replica_spark.snapshot import restore_index, snapshot_index

    in1, in2 = str(tmp_path / "in1"), str(tmp_path / "in2")
    idx, dst = str(tmp_path / "idx"), str(tmp_path / "restored")
    os.makedirs(in1)
    os.makedirs(in2)
    a = _mk_docs([("r0", f"a/{i}.py", f"fresh w{i % 3}") for i in range(6)])
    a.to_parquet(os.path.join(in1, "b0.parquet"), index=False)
    _drain(spark, in1, idx)  # epoch 0 committed into the generation log

    snapshot_index(idx, str(tmp_path / "snap"))
    restore_index(str(tmp_path / "snap"), dst)

    b = _mk_docs([("r0", f"b/{i}.py", f"fresher w{i % 3}") for i in range(4)])
    b.to_parquet(os.path.join(in2, "b0.parquet"), index=False)
    _drain(spark, in2, dst)  # fresh stream: its batch 0 must INDEX, not replay
    assert len(source_view(spark, dst).toPandas()) == 10


def test_match_all_and_explain_default_to_liveness(spark, tmp_path):
    """match_all / explain_score on a generational reader must apply the
    liveDocs mask by default: tombstoned docs don't appear, a superseded
    doc explains as its LATEST version, whose contributions sum to the
    score TermAtATimeScorer gives it, pinned or not."""
    from search_replica_spark.oracle import doc_id_of
    from search_replica_spark.query.bm25 import TermAtATimeScorer, explain_score, match_all
    from search_replica_spark.streaming.incremental import (
        MultiGenReader,
        add_generation,
    )

    a = _mk_docs([("r0", f"a/{i}.py", "alpha beta") for i in range(6)])
    idx = str(tmp_path / "lidx")
    add_generation(spark, spark.createDataFrame(a), idx, CFG)
    dels = a.iloc[[2]].copy()
    dels["_change_type"] = "delete"
    add_generation(spark, spark.createDataFrame(dels), idx, CFG)
    upd = a.iloc[[4]].copy()
    upd["content"] = "alpha alpha alpha gamma"  # tf(alpha)=3 in the live version
    add_generation(spark, spark.createDataFrame(upd), idx, CFG)

    mg = MultiGenReader(spark, idx)
    ma_ids = [d for d, _ in match_all(mg)]
    assert doc_id_of("r0", "a/2.py") not in ma_ids  # tombstoned: absent
    assert len(ma_ids) == 5  # 6 - 1 deleted; superseded doc listed ONCE

    exp = explain_score(mg, "alpha", doc_id=doc_id_of("r0", "a/4.py"))
    assert exp[0]["tf"] == 3  # the live (latest) version, not the old tf=1
    for r in (mg, MultiGenReader(spark, idx).pin_driver()):
        (top, score), = TermAtATimeScorer(r).score("alpha gamma", 1, live=r._live)
        assert top == doc_id_of("r0", "a/4.py")
        got = explain_score(r, "alpha gamma")
        assert got == explain_score(mg, "alpha gamma", doc_id=top)
        assert sum(e["contribution"] for e in got) == pytest.approx(score, abs=1e-5)
    with pytest.raises(KeyError, match="deleted"):
        explain_score(mg, "alpha", doc_id=doc_id_of("r0", "a/2.py"))
