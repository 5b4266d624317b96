"""ES index aliases — the zero-downtime reindex primitive.

ES operators of the reference run the classic alias dance around full
reindexing (reference README.md:20-21 "Initial (re)indexing Using COPY"):
build ``products_v2`` next to the live ``products_v1``, then atomically
repoint the ``products`` alias so every reader flips to the new index in
one step and never observes a half-built one. Here the alias registry is
one JSON file in the directory that holds the indexes; a swap is
``write_durable`` (write-temp, fsync, ``os.replace``, fsync the
directory: readers see the old or the new mapping, never a torn file),
and resolution is an O(1) lookup that the CLI applies before opening any
index path, so ``query --index /data/products`` keeps working across
rebuilds.

No Spark involvement at all: like ``metrics``/``serve`` this is pure file
metadata — cheap enough for a cron'd rebuild-and-swap loop.
"""

from __future__ import annotations

import fcntl
import json
import os
from contextlib import contextmanager

from search_replica_spark.index.manifest import write_durable

REGISTRY = "aliases.json"


@contextmanager
def _writer_lock(base_dir: str):
    """Serialize read-modify-write of the registry: two concurrent cron'd
    rebuild-and-swap loops (the stated use case) must not lose each
    other's updates. os.replace keeps each WRITE atomic for readers; this
    flock keeps the read+write pair atomic for writers."""
    fd = os.open(os.path.join(base_dir, ".aliases.lock"), os.O_CREAT | os.O_RDWR)
    try:
        fcntl.flock(fd, fcntl.LOCK_EX)
        yield
    finally:
        fcntl.flock(fd, fcntl.LOCK_UN)
        os.close(fd)


def _registry_path(base_dir: str) -> str:
    return os.path.join(base_dir, REGISTRY)


def aliases(base_dir: str) -> dict[str, str]:
    """alias -> index dir mapping (empty if no registry exists yet)."""
    try:
        with open(_registry_path(base_dir)) as f:
            return dict(json.load(f))
    except FileNotFoundError:
        return {}


def _write(base_dir: str, reg: dict[str, str]) -> None:
    write_durable(_registry_path(base_dir), json.dumps(reg, indent=1, sort_keys=True))


def _looks_like_index(path: str) -> bool:
    return os.path.exists(os.path.join(path, "stats.json")) or os.path.exists(
        os.path.join(path, "generations.json")
    )


def set_alias(base_dir: str, alias: str, index_dir: str) -> str | None:
    """Point ``alias`` at ``index_dir`` (create or atomically repoint — ES
    POST /_aliases {add}+{remove} in one action). Returns the previous
    target (None if the alias is new). The target must be a real index —
    aliasing a half-built directory is exactly the outage aliases exist to
    prevent."""
    index_dir = os.path.abspath(index_dir)
    if not _looks_like_index(index_dir):
        raise ValueError(f"not an index (no stats.json/generations.json): {index_dir}")
    if os.sep in alias or alias in (".", ".."):
        raise ValueError(f"invalid alias name: {alias!r}")
    with _writer_lock(base_dir):
        reg = aliases(base_dir)
        prev = reg.get(alias)
        reg[alias] = index_dir
        _write(base_dir, reg)
    return prev


def delete_alias(base_dir: str, alias: str) -> bool:
    """Remove ``alias``; True if it existed."""
    with _writer_lock(base_dir):
        reg = aliases(base_dir)
        if alias not in reg:
            return False
        del reg[alias]
        _write(base_dir, reg)
    return True


def resolve_index(path: str) -> str:
    """Resolve a CLI/server index argument: a real index dir passes
    through; otherwise the basename is looked up as an alias in the parent
    directory's registry. Unknown names raise (fail fast beats silently
    scanning an empty dir)."""
    if _looks_like_index(path):
        return path
    base, name = os.path.split(os.path.abspath(path.rstrip(os.sep)))
    target = aliases(base).get(name)
    if target is None:
        raise FileNotFoundError(
            f"{path}: neither an index dir nor an alias in {os.path.join(base, REGISTRY)}"
        )
    if not _looks_like_index(target):
        raise FileNotFoundError(f"alias {name!r} points at a missing index: {target}")
    return target


def resolve_index_or_literal(path: str) -> str:
    """Alias resolution for commands that may CREATE their target (ingest,
    stream, compact, replicate): a registered alias resolves to its index,
    anything else — including a not-yet-existing directory — passes
    through literally. Without this, ``ingest --index-dir <alias>`` would
    silently build a brand-new index in a literal directory named like
    the alias while queries keep serving the alias target."""
    try:
        return resolve_index(path)
    except FileNotFoundError:
        return path
