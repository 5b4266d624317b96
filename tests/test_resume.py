"""Resume-from-checkpoint semantics (SURVEY §7 M6; reference analogue: LSN
commit/resume, search/bulk.go:345-347, main.go:164-165): kill the build
after a stage, restart, final index must equal a clean build exactly and
completed stages must not be recomputed."""

import json
import os

import pytest

from search_replica_spark.config import IndexConfig
from search_replica_spark.index import build as B
from search_replica_spark.index.build import build_index
from search_replica_spark.index.manifest import Manifest


CFG = IndexConfig(shuffle_partitions=4)


def _read_sorted(spark, path, sort_cols):
    return (
        spark.read.parquet(path).toPandas().sort_values(sort_cols).reset_index(drop=True)
    )


def test_kill_after_docmap_then_resume(spark, small_corpus, tmp_path):
    clean_dir = str(tmp_path / "clean")
    crash_dir = str(tmp_path / "crash")
    sdf = spark.createDataFrame(small_corpus)

    clean_stats = build_index(spark, sdf, clean_dir, CFG)

    # crash the build right after the docmap stage commits
    orig = B._stage_segments

    def boom(*a, **k):
        raise RuntimeError("simulated crash")

    B._stage_segments = boom
    try:
        with pytest.raises(RuntimeError, match="simulated crash"):
            build_index(spark, sdf, crash_dir, CFG)
    finally:
        B._stage_segments = orig

    m = Manifest(crash_dir)
    assert m.stage_done("docmap")
    assert not m.stage_done("segments")
    docs_mtime = os.path.getmtime(os.path.join(crash_dir, "docs", "_SUCCESS"))

    # resume: docmap must be skipped (same files), the rest completes
    resumed_stats = build_index(spark, sdf, crash_dir, CFG)
    assert os.path.getmtime(os.path.join(crash_dir, "docs", "_SUCCESS")) == docs_mtime

    # not bytes_compressed: the part files' bytes depend on where the range
    # split cuts the rows (a sampled boundary); the rows are compared below
    for k in ("n_docs", "avg_dl", "n_terms", "postings_emitted"):
        assert resumed_stats[k] == clean_stats[k], k

    cols = ["term_id", "doc_idx", "tf"]
    a = _read_sorted(spark, f"{clean_dir}/postings", cols)
    b = _read_sorted(spark, f"{crash_dir}/postings", cols)
    assert a[cols].equals(b[cols])
    dcols = ["term", "term_id", "df", "start"]
    assert _read_sorted(spark, f"{clean_dir}/dict", dcols)[dcols].equals(
        _read_sorted(spark, f"{crash_dir}/dict", dcols)[dcols]
    )


def test_completed_build_is_noop(spark, small_corpus, tmp_path):
    out = str(tmp_path / "idx")
    sdf = spark.createDataFrame(small_corpus)
    s1 = build_index(spark, sdf, out, CFG)
    seg_mtime = os.path.getmtime(os.path.join(out, "postings", "_SUCCESS"))
    s2 = build_index(spark, sdf, out, CFG)  # must return cached stats, no rebuild
    assert os.path.getmtime(os.path.join(out, "postings", "_SUCCESS")) == seg_mtime
    assert {k: s1[k] for k in s1 if k != "build_sec"} == {
        k: s2[k] for k in s2 if k != "build_sec"
    }


def test_changed_input_invalidates(spark, small_corpus, tmp_path):
    out = str(tmp_path / "idx")
    sdf = spark.createDataFrame(small_corpus)
    build_index(spark, sdf, out, CFG)
    smaller = spark.createDataFrame(small_corpus.iloc[:100])
    stats = build_index(spark, smaller, out, CFG)  # fingerprint changed → full rebuild
    assert stats["n_docs"] == 100


def test_lineage_partition_metrics(spark, small_corpus, tmp_path):
    out = str(tmp_path / "idx")
    sdf = spark.createDataFrame(small_corpus)
    stats = build_index(spark, sdf, out, CFG)
    lin = spark.read.parquet(f"{out}/lineage").toPandas()
    assert (lin["stage"] == "segments").all()
    assert int(lin["postings_emitted"].sum()) == stats["postings_emitted"]
    assert int(lin["bytes_compressed"].sum()) == stats["bytes_compressed"]
    assert len(lin) >= 1  # one row per written partition file
    manifest = json.load(open(f"{out}/manifest.json"))
    assert manifest["stages"]["finalize"]["status"] == "done"
