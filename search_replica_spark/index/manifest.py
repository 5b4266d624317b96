"""Build manifest: checkpoint/resume + per-partition lineage.

Reference analogue: the LSN feedback loop — the sink commits its position
only after a successful flush (search/bulk.go:345-347), the replication
loop persists it (replication.go:153-168), and a restart resumes from the
last committed LSN (main.go:164-165). Our unit of commit is a completed
build *stage* whose output parquet is fully written (Spark's atomic
rename-on-commit) and fsynced (``fsync_tables``), recorded with an input
fingerprint so a resume against different input restarts from scratch.
Within a stage, per-partition recovery is Spark task retry
(spark.task.maxFailures) — idempotent because stage outputs are
overwrite-mode parquet.

Per-file lineage (postings, terms and bytes of each postings part file)
is recorded in ``out_dir/lineage/`` as a parquet table.
"""

from __future__ import annotations

import json
import os
import time

# the commit log of a generational index: one entry per generation, in
# generation order ({"gen", "dir", "n_docs", "total_tokens", "deleted_ids",
# epoch fields}); "dir" is None for a delete-only generation
GENS_FILE = "generations.json"

# stats.json "format": 2 is the postings layout (term_id, doc_idx, tf rows
# plus a dictionary of term, term_id, df, start). An index without the key
# predates it and is refused rather than read through a second path.
INDEX_FORMAT = 2


def read_stats(index_dir: str) -> dict:
    """The stats.json of the index at ``index_dir``; raises ``ValueError``
    unless it is in ``INDEX_FORMAT``."""
    with open(os.path.join(index_dir, "stats.json")) as f:
        stats = json.load(f)
    if stats.get("format") != INDEX_FORMAT:
        raise ValueError(
            f"{index_dir} is in index format {stats.get('format', 1)}; this engine "
            f"reads format {INDEX_FORMAT} only. Rebuild it: `build` it again from "
            "the corpus, `compact` a generational index from its snapshot, or "
            "`reindex` it from its stored _source."
        )
    return stats


def _load_gens(index_dir: str) -> list[dict]:
    """The committed generations.json of ``index_dir``; [] when there is
    none (a plain ``build_index`` output or an empty directory)."""
    p = os.path.join(index_dir, GENS_FILE)
    if os.path.exists(p):
        with open(p) as f:
            return json.load(f)
    return []


def _gen_stats(index_dir: str, g: dict) -> dict:
    """A live generation's stats.json, format-checked (``read_stats``);
    the top-level copy while an adoption's move into gen=0 is pending."""
    d = g["dir"] if os.path.exists(os.path.join(g["dir"], "stats.json")) else index_dir
    return read_stats(d)


def read_generations(index_dir: str) -> list[dict]:
    """The generations a reader serves: generations.json when it exists,
    else the plain ``build_index`` output at ``index_dir`` as generation 0
    with no tombstones (the entry adoption would commit for it). So a
    plain index is a one-generation index, and readers and the
    distributed plan take one path for both."""
    gens = _load_gens(index_dir)
    if gens:
        return gens
    st = read_stats(index_dir)
    return [{"gen": 0, "dir": index_dir, "n_docs": int(st["n_docs"]),
             "total_tokens": int(st["total_tokens"]), "epoch_id": None,
             "deleted_ids": []}]


def slot_bases(gens: list[dict]) -> dict[int, int]:
    """generation → slot base: the live generations' docs follow each
    other in generation order, so a doc's slot is its doc_idx plus the
    docs of the live generations before its own."""
    out, acc = {}, 0
    for g in gens:
        if g["dir"]:
            out[g["gen"]] = acc
            acc += int(g["n_docs"])
    return out


def fold_tombstones(gens: list[dict]) -> dict[int, int]:
    """doc_id → the latest generation holding a tombstone for it. A
    tombstone of generation t kills the versions of its doc_id in
    generations strictly before t; a generation's own upserts beat its
    tombstones (delete plus insert of one key in one batch nets to the
    insert)."""
    out: dict[int, int] = {}
    for g in gens:
        for d in g.get("deleted_ids", ()):
            out[int(d)] = max(out.get(int(d), -1), int(g["gen"]))
    return out


def part_files(table_dir: str) -> list[str]:
    """The parquet part files of the table at ``table_dir`` in name order,
    skipping names that start with ``_`` or ``.`` as Spark's file listing
    does. Build and readers concatenate a table's rows in this order."""
    return [
        os.path.join(table_dir, name)
        for name in sorted(os.listdir(table_dir))
        if not name.startswith(("_", "."))
    ]


def _fsync_path(path: str) -> None:
    fd = os.open(path, os.O_RDONLY)
    try:
        os.fsync(fd)
    finally:
        os.close(fd)


def write_durable(path: str, text: str) -> None:
    """Commit ``text`` as the new content of ``path``: write a temp file
    beside it, fsync it, rename it over ``path`` (atomic on POSIX, so a
    reader sees the old file or the new one), then fsync the directory so
    the rename itself is on disk. A crash or an exception before the
    rename leaves the old file as it was; once the call returns, the new
    content survives power loss."""
    tmp = path + ".tmp"
    try:
        with open(tmp, "w") as f:
            f.write(text)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, path)
    except BaseException:
        if os.path.exists(tmp):
            os.unlink(tmp)
        raise
    _fsync_path(os.path.dirname(os.path.abspath(path)))


def fsync_tables(root: str, names) -> None:
    """Make the data files a commit will name survive power loss: fsync
    every file under each ``root/name`` table directory, then its
    directories from the deepest up, then ``root`` and ``root``'s parent,
    which hold the tables' and ``root``'s own directory entries. Call it
    before a commit file (a stage's manifest entry, stats.json,
    generations.json) names the tables; a missing table is skipped."""
    for name in names:
        top = os.path.join(root, name)
        for d, _subdirs, files in os.walk(top, topdown=False):
            for f in files:
                _fsync_path(os.path.join(d, f))
            _fsync_path(d)
    _fsync_path(root)
    _fsync_path(os.path.dirname(os.path.abspath(root)))


class Manifest:
    FILE = "manifest.json"

    def __init__(self, out_dir: str):
        self.out_dir = out_dir
        self.path = os.path.join(out_dir, self.FILE)
        self.data: dict = {"input_fingerprint": None, "stages": {}}
        if os.path.exists(self.path):
            with open(self.path) as f:
                self.data = json.load(f)

    def save(self) -> None:
        os.makedirs(self.out_dir, exist_ok=True)
        write_durable(self.path, json.dumps(self.data, indent=2))  # like the LSN ack

    # --- input identity ---
    def bind_input(self, fingerprint: str) -> None:
        """If the fingerprint changed, all prior stage completions are void."""
        if self.data.get("input_fingerprint") != fingerprint:
            self.data = {"input_fingerprint": fingerprint, "stages": {}}
            self.save()

    def stage_done(self, name: str) -> bool:
        st = self.data["stages"].get(name)
        return bool(st and st.get("status") == "done")

    def start_stage(self, name: str) -> None:
        self.data["stages"][name] = {"status": "running", "started_at": time.time()}
        self.save()

    def finish_stage(self, name: str, metrics: dict | None = None) -> None:
        st = self.data["stages"].setdefault(name, {})
        st["status"] = "done"
        st["finished_at"] = time.time()
        st["metrics"] = metrics or {}
        self.save()


def input_fingerprint(df) -> str:
    """Input identity: schema + row count + an order-independent content
    digest (sum of per-row crc32 over all columns, JVM-side). The digest
    catches in-place content updates that keep the row count unchanged —
    schema+count alone would resume into a stale index. On a real lakehouse
    table this whole function is replaced by the Iceberg snapshot id."""
    from pyspark.sql import functions as F

    agg = df.agg(
        F.count("*").alias("n"),
        F.sum(
            F.crc32(F.concat_ws("\x00", *[F.col(c).cast("string") for c in df.columns]))
        ).alias("digest"),
    ).collect()[0]
    return f"{df.schema.simpleString()}|{agg['n']}|{agg['digest']}"
