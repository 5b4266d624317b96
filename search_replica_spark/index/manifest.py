"""Build manifest: checkpoint/resume + per-partition lineage.

Reference analogue: the LSN feedback loop — the sink commits its position
only after a successful flush (search/bulk.go:345-347), the replication
loop persists it (replication.go:153-168), and a restart resumes from the
last committed LSN (main.go:164-165). Our unit of commit is a completed
build *stage* whose output parquet is fully written (Spark's atomic
rename-on-commit), recorded with an input fingerprint so a resume against
different input restarts from scratch. Within a stage, per-partition
recovery is Spark task retry (spark.task.maxFailures) — idempotent because
stage outputs are overwrite-mode parquet.

Per-file lineage (postings, terms and bytes of each postings part file)
is recorded in ``out_dir/lineage/`` as a parquet table.
"""

from __future__ import annotations

import json
import os
import time

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


def part_files(table_dir: str) -> list[str]:
    """The parquet part files of the table at ``table_dir`` in name order,
    skipping names that start with ``_`` or ``.`` as Spark's file listing
    does. Build and readers concatenate a table's rows in this order."""
    return [
        os.path.join(table_dir, name)
        for name in sorted(os.listdir(table_dir))
        if not name.startswith(("_", "."))
    ]


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
    fd = os.open(os.path.dirname(os.path.abspath(path)), os.O_RDONLY)
    try:
        os.fsync(fd)
    finally:
        os.close(fd)


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
