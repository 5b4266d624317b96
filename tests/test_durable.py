"""Durable commits: every commit file (generations.json, manifest.json,
metrics.json, build's stats.json, the alias registry) goes through
``write_durable``, which fsyncs the temp file, renames it over the target
and then fsyncs the directory, and leaves the old file intact when it
fails before the rename. The data files a commit names (the part files
and directories of docs/, postings/, dict/, lineage/) are fsynced before
it."""

import json
import os
import stat

import pytest

from search_replica_spark.index import alias
from search_replica_spark.index.manifest import Manifest, write_durable
from search_replica_spark.streaming import incremental


def _record(monkeypatch, log=None):
    """Log os.fsync (of a file or of a directory) and os.replace calls.
    ``log``, when given, also gets ``("fsync", (st_dev, st_ino))`` and
    ``("replace", target basename)`` entries in call order."""
    events = []
    real_fsync, real_replace = os.fsync, os.replace

    def fsync(fd):
        st = os.fstat(fd)
        events.append("fsync dir" if stat.S_ISDIR(st.st_mode) else "fsync file")
        if log is not None:
            log.append(("fsync", (st.st_dev, st.st_ino)))
        real_fsync(fd)

    def replace(src, dst):
        events.append("replace")
        if log is not None:
            log.append(("replace", os.path.basename(dst)))
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


def _unsynced_before(log, commit_file, root):
    """The files and directories of ``root``'s tables, ``root`` itself
    and its parent that no fsync reached before the last replace of
    ``commit_file``."""
    at = max(i for i, e in enumerate(log) if e == ("replace", commit_file))
    synced = {ident for kind, ident in log[:at] if kind == "fsync"}
    paths = [root, os.path.dirname(root)]
    for table in ("docs", "postings", "dict", "lineage"):
        for d, _dirs, files in os.walk(os.path.join(root, table)):
            paths += [d] + [os.path.join(d, f) for f in files]
    assert sum(p.endswith(".parquet") for p in paths) >= 4
    return [p for p in paths if (os.stat(p).st_dev, os.stat(p).st_ino) not in synced]


def test_data_files_are_fsynced_before_the_commit_file(spark, tmp_path, monkeypatch):
    """build_index fsyncs every part file (and .crc, _SUCCESS) and
    directory of the tables before stats.json names them, and
    add_generation before generations.json commits the generation."""
    from search_replica_spark.config import IndexConfig
    from search_replica_spark.corpus import generate_corpus
    from search_replica_spark.index import build

    log = []
    _record(monkeypatch, log)
    cfg = IndexConfig(shuffle_partitions=2)
    corpus = generate_corpus(60)
    out = str(tmp_path / "plain")
    build.build_index(spark, spark.createDataFrame(corpus), out, cfg)
    assert _unsynced_before(log, "stats.json", out) == []

    idx = str(tmp_path / "gens")
    for rows in (corpus.iloc[:40], corpus.iloc[40:]):
        log.clear()
        incremental.add_generation(spark, spark.createDataFrame(rows), idx, cfg)
        gen_dir = incremental._load_gens(idx)[-1]["dir"]
        assert _unsynced_before(log, "generations.json", gen_dir) == []


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

