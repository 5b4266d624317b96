"""Durable commits: every commit file (generations.json, manifest.json,
metrics.json, build's stats.json, the alias registry) goes through
``write_durable``, which fsyncs the temp file, renames it over the target
and then fsyncs the directory, and leaves the old file intact when it
fails before the rename."""

import json
import os
import stat

import pytest

from search_replica_spark.index import alias
from search_replica_spark.index.manifest import Manifest, write_durable
from search_replica_spark.streaming import incremental


def _record(monkeypatch):
    """Log os.fsync (of a file or of a directory) and os.replace calls."""
    events = []
    real_fsync, real_replace = os.fsync, os.replace

    def fsync(fd):
        events.append("fsync dir" if stat.S_ISDIR(os.fstat(fd).st_mode) else "fsync file")
        real_fsync(fd)

    def replace(src, dst):
        events.append("replace")
        real_replace(src, dst)

    monkeypatch.setattr(os, "fsync", fsync)
    monkeypatch.setattr(os, "replace", replace)
    return events


def test_write_durable_fsyncs_file_then_replaces_then_fsyncs_dir(tmp_path, monkeypatch):
    events = _record(monkeypatch)
    path = str(tmp_path / "commit.json")
    write_durable(path, '{"a": 1}')
    assert events == ["fsync file", "replace", "fsync dir"]
    with open(path) as f:
        assert json.load(f) == {"a": 1}
    assert os.listdir(tmp_path) == ["commit.json"]


def test_every_commit_file_is_written_durably(tmp_path, monkeypatch):
    """Each commit site calls write_durable, so each gets the same three
    steps in the same order."""
    events = _record(monkeypatch)
    idx = tmp_path / "idx"
    incremental._save_gens(str(idx), [{"gen": 0, "dir": None, "n_docs": 0,
                                        "total_tokens": 0, "deleted_ids": []}])
    m = Manifest(str(tmp_path / "build"))
    m.save()
    incremental.write_metrics(str(idx))
    os.makedirs(tmp_path / "live")
    (tmp_path / "live" / "stats.json").write_text("{}")
    alias.set_alias(str(tmp_path), "live_alias", str(tmp_path / "live"))
    assert events == ["fsync file", "replace", "fsync dir"] * 4
    assert alias.resolve_index(str(tmp_path / "live_alias")) == str(tmp_path / "live")
    assert incremental._load_gens(str(idx))[0]["gen"] == 0


def test_build_commits_stats_json_durably(spark, tmp_path, monkeypatch):
    """build_index's finalize stage writes stats.json through write_durable."""
    from search_replica_spark.config import IndexConfig
    from search_replica_spark.corpus import generate_corpus
    from search_replica_spark.index import build

    written = []

    def spy(path, text):
        written.append(os.path.basename(path))
        write_durable(path, text)

    monkeypatch.setattr(build, "write_durable", spy)
    out = str(tmp_path / "idx")
    stats = build.build_index(spark, spark.createDataFrame(generate_corpus(40)), out,
                              IndexConfig(shuffle_partitions=2))
    assert written.count("stats.json") == 1
    with open(os.path.join(out, "stats.json")) as f:
        assert json.load(f)["n_docs"] == stats["n_docs"] == 40


def test_failure_before_the_replace_keeps_the_old_file(tmp_path, monkeypatch):
    path = str(tmp_path / "generations.json")
    write_durable(path, "old")

    def broken_fsync(fd):
        raise OSError("disk full")

    monkeypatch.setattr(os, "fsync", broken_fsync)
    with pytest.raises(OSError, match="disk full"):
        write_durable(path, "new")
    with open(path) as f:
        assert f.read() == "old"
    assert os.listdir(tmp_path) == ["generations.json"]  # no temp file left

