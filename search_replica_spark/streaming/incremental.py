"""Incremental / CDC-style index maintenance (SURVEY §7 M7).

The reference keeps the search index fresh by streaming WAL events into
per-document upserts/deletes (reference: postgres/replication.go:237-367 —
insert/update/delete dispatch; postgres/table.go:56-86 — upsert + key-change
delete+insert). Elasticsearch absorbs those into Lucene's segment model:
new docs land in fresh segments, old versions become tombstoned until merge.

We re-express exactly that model Spark-first:

  - each micro-batch of new/changed docs becomes a new immutable
    **generation** (gen=N/) with the standard index layout, built by the
    same staged ``build_index``;
  - a batch row with ``_change_type = 'delete'`` becomes a **tombstone**
    for its (repo, path) key, recorded with the generation (reference:
    Delete message dispatch, replication.go:324-347). A tombstone kills all
    EARLIER versions of the doc; a later re-insert revives it. Deleting a
    doc that was never indexed is a silent no-op — the reference ignores
    document_missing_exception the same way (search/errors.go:9-47);
  - a doc_id appearing in a later generation supersedes earlier versions
    (last-wins by arrival order — reference P16, table.go:56-63);
  - reading needs nothing of this module: ``query.bm25.IndexReader``
    reads the generation list (``index.manifest.read_generations``; a
    plain ``build_index`` directory is one generation with no
    tombstones), computes liveDocs in NumPy, and ``bm25_topk_spark``
    runs the same rule as a Spark plan (``live_docs``), which
    ``source_view`` and ``merge_generations`` here use too;
  - global BM25 statistics (N, avgdl, df) are merged across generations at
    read time. Like ES/Lucene, superseded/tombstoned versions still
    influence corpus statistics until **compaction** — ``compact()``
    rebuilds one generation from the current table snapshot (the lakehouse
    table is the source of truth, mirroring the reference's snapshot
    reindex, replication.go:100-112).

Structured Streaming wrapper: ``index_stream`` runs a parquet-source stream
whose ``foreachBatch`` calls ``add_generation``. foreachBatch is
at-least-once, so add_generation records the epoch_id with each generation
and replays of an already-committed epoch are no-ops — that, plus the
checkpoint, makes generation content effectively exactly-once. The trigger
is caller-selectable: availableNow (drain + stop, the default) or
processingTime (a long-running replication loop like the reference's).

Tombstone representation: delete keys are small per batch (a CDC micro-
batch), so they live in generations.json as engine doc_ids; at true 100 TB
scale the same ids would go to a per-generation parquet/roaring-bitmap
sidecar and the reader's liveness pass would read that instead — nothing
else changes.
"""

from __future__ import annotations

import fcntl
import functools
import json
import os
import re
import shutil

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from search_replica_spark.analysis import tokenize_text
from search_replica_spark.config import IndexConfig
from search_replica_spark.errors import SchemaMismatch, with_retries
from search_replica_spark.index.build import build_index, with_doc_ids
from search_replica_spark.index.manifest import (  # noqa: F401 (re-exported)
    GENS_FILE,
    _gen_stats,
    _load_gens,
    fsync_tables,
    read_generations,
    read_stats,
    slot_bases,
    write_durable,
)
from search_replica_spark.query.bm25 import (  # noqa: F401 (re-exported)
    IndexReader,
    LiveDocs,
    TermAtATimeScorer,
    bm25_topk_spark,
    live_docs,
)

CHANGE_COL = "_change_type"  # insert | update | update_partial | delete
# (Iceberg CDC dialect + ES's partial-update bulk op, table.go:143-151)

# Per-index writer lock, at two levels. Generational commits are a
# read-modify-write of generations.json plus a build into the next gen=N
# directory, so two writers interleaving would compute the same gen_id and
# clobber each other's output and commit-log entry.
#   - In one driver (index_stream and inline_stream foreachBatch THREADS,
#     each with its own batchId cadence) a per-index re-entrant thread lock
#     serializes them.
#   - Across processes, the outermost write entry point takes an exclusive
#     ``fcntl.flock`` on ``index_dir/.write.lock`` (Lucene's write.lock) and
#     a second driver fails at once with ``IndexLocked``. Nested entry
#     points (apply_inline_updates → add_generation) reuse the held file:
#     flock locks belong to an open file description, so a second open()
#     in the same process would conflict with the first.
import threading as _threading

LOCK_FILE = ".write.lock"
_INDEX_LOCKS: dict[str, _threading.RLock] = {}
_INDEX_LOCKS_GUARD = _threading.Lock()
_HELD_FLOCKS: dict[str, list[int]] = {}  # index → [fd, depth], under its RLock


class IndexLocked(RuntimeError):
    """Another process holds the index's writer lock."""


def _index_write_lock(index_dir: str) -> _threading.RLock:
    key = os.path.abspath(index_dir)
    with _INDEX_LOCKS_GUARD:
        if key not in _INDEX_LOCKS:
            _INDEX_LOCKS[key] = _threading.RLock()
        return _INDEX_LOCKS[key]


def _acquire_flock(key: str) -> None:
    held = _HELD_FLOCKS.get(key)
    if held is not None:
        held[1] += 1
        return
    os.makedirs(key, exist_ok=True)
    fd = os.open(os.path.join(key, LOCK_FILE), os.O_RDWR | os.O_CREAT, 0o644)
    try:
        fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
    except BlockingIOError:
        os.close(fd)
        raise IndexLocked(
            f"{key} is being written by another process (it holds {LOCK_FILE}); "
            "an index takes one writer at a time"
        ) from None
    _HELD_FLOCKS[key] = [fd, 1]


def _release_flock(key: str) -> None:
    held = _HELD_FLOCKS[key]
    held[1] -= 1
    if held[1] == 0:
        del _HELD_FLOCKS[key]
        os.close(held[0])  # closing the descriptor releases the flock


def _locked_writer(index_dir_pos: int):
    """Serialize a whole write entry point on the per-index RLock and the
    inter-process writer lock (both re-entrant within a thread, so
    apply_inline_updates → add_generation nests)."""

    def deco(fn):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            index_dir = kwargs.get("index_dir")
            if index_dir is None and len(args) > index_dir_pos:
                index_dir = args[index_dir_pos]
            key = os.path.abspath(str(index_dir))
            with _index_write_lock(key):
                _acquire_flock(key)
                try:
                    return fn(*args, **kwargs)
                finally:
                    _release_flock(key)

        return wrapper

    return deco


def _fold_epochs(gens: list[dict]) -> dict[str, int]:
    """Per-source replay watermarks folded from the commit log: each
    generation's own (epoch_source, epoch_id), any merge-folded
    ``max_epochs`` map, and the legacy single-space ``max_epoch`` (always
    'main'). One definition shared by the replay check, merges, and
    metrics — three hand-rolled copies of this fold drifting apart would
    silently break exactly-once (r5 review)."""
    out: dict[str, int] = {}
    for g in gens:
        src = g.get("epoch_source", "main")
        if g.get("epoch_id") is not None:
            out[src] = max(out.get(src, -1), int(g["epoch_id"]))
        for s2, e2 in (g.get("max_epochs") or {}).items():
            out[s2] = max(out.get(s2, -1), int(e2))
        if g.get("max_epoch") is not None:
            out["main"] = max(out.get("main", -1), int(g["max_epoch"]))
    return out


def _save_gens(index_dir: str, gens: list[dict]) -> None:
    os.makedirs(index_dir, exist_ok=True)
    write_durable(os.path.join(index_dir, GENS_FILE), json.dumps(gens, indent=2))


def _rewrite_dir(index_dir: str, gens: list[dict]) -> str:
    """The directory a rewrite of the whole index (merge_generations,
    compact) builds its one generation in: ``gen=0.<k>``, a name no
    committed generation uses and add_generation never builds into (it
    writes ``gen=<n>``). Leftovers of a crashed rewrite, which the commit
    log does not name, are removed first."""
    committed = {os.path.abspath(g["dir"]) for g in gens if g["dir"]}
    ks = [0]
    for name in os.listdir(index_dir) if os.path.isdir(index_dir) else ():
        m = re.fullmatch(r"gen=0\.(\d+)", name)
        path = os.path.join(index_dir, name)
        if m and os.path.abspath(path) in committed:
            ks.append(int(m.group(1)))
        elif m:
            shutil.rmtree(path, ignore_errors=True)
    return os.path.join(index_dir, f"gen=0.{max(ks) + 1}")


def _commit_rewrite(index_dir: str, old: list[dict], entry: dict) -> None:
    """Commit ``entry`` as the index's only generation, then delete the
    old generations' directories: a crash before the commit leaves the old
    index as it was, and one after it leaves only directories the commit
    log no longer names."""
    _save_gens(index_dir, [entry])
    for g in old:
        if g["dir"] and os.path.abspath(g["dir"]) != os.path.abspath(entry["dir"]):
            shutil.rmtree(g["dir"], ignore_errors=True)


def _adopt_plain_index(index_dir: str) -> list[dict]:
    """Turn a plain ``build_index`` output into generation 0 IN PLACE (move
    its files under gen=0/, write generations.json). Called by
    add_generation when an un-adopted plain index sits at index_dir —
    without this, the first ingested/updated batch would become the ONLY
    visible generation and orphan the original index (every doc outside
    the batch silently vanishing from query/GET)."""
    stats_p = os.path.join(index_dir, "stats.json")
    gens = _load_gens(index_dir)
    if gens:
        # complete a crashed adoption: generations.json committed but the
        # top-level stats.json was not yet moved into gen=0 — finish the
        # move (or drop the stale copy if the move already happened)
        if os.path.exists(stats_p) and gens[0]["dir"]:
            dst = os.path.join(gens[0]["dir"], "stats.json")
            if os.path.exists(dst):
                os.remove(stats_p)
            else:
                shutil.move(stats_p, dst)
        return gens
    if not os.path.exists(stats_p):
        return []
    with open(stats_p) as f:
        st = json.load(f)
    # crash-safe: generations.json is the COMMIT POINT. Data files move
    # first (retry skips already-moved entries; top-level stats.json still
    # present = adoption not committed, so the retry re-runs everything);
    # once generations.json exists, no later add_generation can build into
    # gen=0 (gen_id = len(gens) >= 1), so the adopted index can never be
    # silently overwritten. The stats.json move is post-commit cleanup,
    # completed by the retry path above if we crash before it.
    gen_dir = os.path.join(index_dir, "gen=0")
    os.makedirs(gen_dir, exist_ok=True)
    for name in os.listdir(index_dir):
        if name in ("gen=0", GENS_FILE, "stats.json", LOCK_FILE) or name.endswith(".tmp"):
            continue
        dst = os.path.join(gen_dir, name)
        if not os.path.exists(dst):
            shutil.move(os.path.join(index_dir, name), dst)
    fsync_tables(gen_dir, ())  # the moves' directory entries
    gens = [{
        "gen": 0, "dir": gen_dir, "n_docs": int(st["n_docs"]),
        "total_tokens": int(st["total_tokens"]), "epoch_id": None,
        "deleted_ids": [],
    }]
    _save_gens(index_dir, gens)
    shutil.move(stats_p, os.path.join(gen_dir, "stats.json"))
    return gens


def derive_index_cfg(index_dir: str, base: IndexConfig | None = None) -> IndexConfig:
    """An IndexConfig whose BUILD FLAGS match the index's existing
    generations — ES semantics: index settings are fixed at creation, every
    later batch conforms. merge_generations derives the same way; a
    generation built with different positions/source/analyzer settings
    corrupts the index (schema-mismatched postings unions, unqualified terms
    that stop matching fielded queries). Tuning knobs (shuffle width) stay
    from ``base``. Returns ``base`` unchanged for an empty
    index."""
    import dataclasses

    cfg = base or IndexConfig()
    live = [g for g in _load_gens(index_dir) if g["dir"]]
    if live:
        stats_p = os.path.join(live[-1]["dir"], "stats.json")
        if not os.path.exists(stats_p):
            # adoption crashed between the generations.json commit and the
            # stats.json move — the flags are still in the top-level copy
            stats_p = os.path.join(index_dir, "stats.json")
    else:
        stats_p = os.path.join(index_dir, "stats.json")  # un-adopted plain
    if not os.path.exists(stats_p):
        return cfg
    with open(stats_p) as f:
        st = json.load(f)
    fa = st.get("field_analyzers")
    ic = st.get("input_columns")
    return dataclasses.replace(
        cfg,
        input_columns=tuple(ic) if ic else cfg.input_columns,
        store_positions=bool(st.get("store_positions", False)),
        store_source=bool(st.get("store_source", False)),
        field_analyzers=tuple(tuple(x) for x in fa) if fa else None,
        k1=float(st.get("k1", cfg.k1)),
        b=float(st.get("b", cfg.b)),
    )


def _require_stored_source(index_dir: str) -> None:
    """Every LIVE generation must actually have stored its _source: column
    presence on the unioned view is not enough — unionByName(allowMissing)
    fabricates nulls for generations built without store_source, and a
    metadata-only update would then silently wipe content."""
    no_src = []
    for g in _load_gens(index_dir):
        if not g["dir"]:
            continue
        with open(os.path.join(g["dir"], "stats.json")) as f:
            if not json.load(f).get("store_source", False):
                no_src.append(g["gen"])
    if no_src:
        raise ValueError(
            f"generations {no_src} were built without store_source=True — "
            "their docs have no stored _source to merge against; compact() "
            "with store_source before applying updates"
        )


def source_view(spark, index_dir: str):
    """Current live document state as a DataFrame — ES GET/_source parity.

    The live rows of every generation's docs store (``live_docs``: each
    doc_id's newest-generation row, minus the rows a strictly later
    tombstone covers — the rule the reader's liveDocs applies), as doc_id
    plus every stored column. A plain index reads as its one generation.

    With ``IndexConfig(store_source=True)`` builds, the view carries every
    input column (content included) — the stored-fields half of Lucene that
    partial updates and fetch-by-id resolve against. Scale shape: one
    shuffle on doc_id over the docs stores (tiny vs postings) plus a
    broadcast of the tombstone set.
    """
    return live_docs(spark, read_generations(index_dir)).drop("slot")


def _resolve_partial_updates(spark, partials, index_dir: str, cfg: IndexConfig):
    """ES ``_update {"doc": ...}`` resolution (reference: EncodeUpdateRowJSON,
    postgres/table.go:143-151): merge each partial row's NON-NULL columns
    over the latest stored version of its (repo, path) doc and return full
    rows ready for re-indexing — exactly what ES does internally
    (get _source → shallow field merge → reindex).

    An optional ``_seq`` column orders multiple partials for one key within
    a batch (the reference applies WAL changes in LSN order); without it,
    duplicate keys in one batch reach the build's duplicate-doc_id guard and
    fail fast. Updates to missing/deleted docs are dropped and counted —
    the reference ignores document_missing_exception the same way
    (search/errors.go:9-47).

    Returns (merged_full_rows_df, n_missing).
    """
    if not cfg.store_source:
        raise ValueError(
            "_change_type='update_partial' requires IndexConfig(store_source=True): "
            "the engine must read the stored _source to merge unchanged columns "
            "(ES resolves _update the same way)"
        )
    others = [c for c in cfg.input_columns if c not in ("repo", "path")]
    # ES `_update {"doc": {"field": null}}` explicitly NULLS the field; a
    # null column in a CDC-shaped partial row means "unchanged". The two are
    # disambiguated by an optional `_unset: array<string>` column naming the
    # columns a row explicitly nulls — listed = set to NULL, null-and-
    # unlisted = keep stored value. With `_seq`, the LATEST action on a
    # column (set or unset) wins, per ES's sequential doc-merge.
    has_unset = "_unset" in partials.columns

    def _unset_flag(c):
        return F.coalesce(F.array_contains(F.col("_unset"), c), F.lit(False))

    if "_seq" in partials.columns:
        aggs = []
        for c in others:
            u = _unset_flag(c) if has_unset else F.lit(False)
            acted = F.col(c).isNotNull() | u
            aggs.append(
                F.max(
                    F.when(
                        acted,
                        F.struct(
                            F.col("_seq").alias("s"),
                            u.alias("u"),
                            F.col(c).alias("v"),
                        ),
                    )
                ).alias(f"_a_{c}")
            )
        partials = partials.groupBy("repo", "path").agg(*aggs).select(
            "repo",
            "path",
            *[F.col(f"_a_{c}.v").alias(c) for c in others],
            *[
                F.coalesce(F.col(f"_a_{c}.u"), F.lit(False)).alias(f"_u_{c}")
                for c in others
            ],
        )
    elif has_unset:
        partials = partials.select(
            "repo", "path", *others,
            *[_unset_flag(c).alias(f"_u_{c}") for c in others],
        )
    else:
        partials = partials.select("repo", "path", *others)
    _require_stored_source(index_dir)
    cur = source_view(spark, index_dir)
    missing_src = [c for c in others if c not in cur.columns]
    if missing_src:
        raise ValueError(
            f"stored _source lacks columns {missing_src}: earlier generations "
            "were built without store_source=True — compact() with "
            "store_source before applying partial updates"
        )
    cur_sel = cur.select(
        "repo", "path", *[F.col(c).alias(f"_cur_{c}") for c in others]
    )
    have_flags = any(f"_u_{c}" in partials.columns for c in others)

    def _resolved(c):
        base = F.coalesce(F.col(c), F.col(f"_cur_{c}"))
        if have_flags:
            # an explicit unset beats both the stored value and any
            # simultaneous set in the same row (ES: the null assignment IS
            # the value)
            base = F.when(F.col(f"_u_{c}"), F.lit(None)).otherwise(base)
        return base.alias(c)

    merged = cur_sel.join(F.broadcast(partials), ["repo", "path"], "inner").select(
        "repo",
        "path",
        *[_resolved(c) for c in others],
    )
    # one docs-store probe scan per micro-batch (the distributed analogue of
    # ES's per-update GET): cache the merged rows so the count here and the
    # build stages downstream don't re-run the scan
    merged = merged.persist()
    n_missing = partials.count() - merged.count()
    return merged, int(n_missing)


@_locked_writer(1)
def scripted_update(spark, index_dir: str, where: str, set_exprs: dict, cfg=None):
    """ES scripted update (`_update {"script": ...}` — the last of the
    reference's B9 bulk-op family, table.go:56-63 / SURVEY §2A B9): apply an
    expression to the CURRENT state of every doc matching ``where`` and
    re-index the results as a new superseding generation.

    The scripting language is Spark SQL (``F.expr``) — the Spark-first
    substitution for Painless: ``set_exprs`` maps column → SQL expression
    evaluated over the doc's current columns, e.g.
    ``{"content": "concat(content, ' migrated')"}``. Runs as one
    Catalyst plan over ``source_view`` (requires store_source builds);
    the whole update is distributed — no driver-side doc loop.

    A plain build_index output is adopted as generation 0 first (so the
    superseding generation never orphans it), and the build flags
    (positions/source/analyzers/k1/b) are DERIVED from the index itself —
    ``cfg`` only contributes tuning knobs. Every live generation must have
    stored its _source (same guard as partial updates: fabricated-null
    merges silently destroy content).
    """
    if not _load_gens(index_dir):
        _adopt_plain_index(index_dir)
    cfg = derive_index_cfg(index_dir, cfg)
    if not cfg.store_source:
        raise ValueError(
            "scripted_update requires an index built with store_source=True"
        )
    _require_stored_source(index_dir)
    cur = source_view(spark, index_dir).filter(where)
    out = [
        (F.expr(set_exprs[c]) if c in set_exprs else F.col(c)).alias(c)
        for c in cfg.input_columns
    ]
    return add_generation(spark, cur.select(*out), index_dir, cfg)


@_locked_writer(2)
def apply_inline_updates(
    spark,
    child_batch,
    index_dir: str,
    cfg: IndexConfig | None = None,
    field: str = "inlined",
    child_pk: str = "ck",
    upsert_missing: bool = True,
    epoch_id: int | None = None,
    field_kind: str = "array",
    dry_run: bool = False,
    epoch_source: str = "inline",
):
    """Streamed INLINE (denormalized-array) maintenance — the reference's
    live child-table replication into a parent doc's embedded array
    (postgres/inline.go:111-170; the painless add/del scripts
    search/scripts/inline_add.painless:1-17 / inline_del.painless:1-17,
    asserted by demo/consistency_test.go:60-69's set-equality check).

    ``child_batch`` rows describe child-table CDC events:
      - ``repo``/``path``  — the PARENT document's key;
      - ``child_pk``       — the element's key within the parent's array;
      - the element's payload columns (every field of the stored array's
        element struct must be present);
      - optional ``_change_type`` ('delete' removes the element; anything
        else upserts it — replace-by-key or append, exactly the painless
        add script's loop);
      - optional ``_seq`` ordering multiple events per (parent, child) in
        one batch (the reference applies WAL changes in LSN order; without
        it duplicate keys fail fast);
      - optional ``_old_repo``/``_old_path`` — the parent key BEFORE a
        key-changing update: the element is removed from the old parent and
        upserted on the new one (inline.go:66-95 tupleKeysChanged →
        recreate). Without old-key columns, updates degrade to upsert-only,
        the reference's ``upsertOnly`` mode (inline.go:56-62).

    ``field_kind``: ``"array"`` (default) keeps the parent's field as a
    pk-keyed array of structs (inline_add.painless's replace-or-append
    loop); ``"map"`` keeps it as ``map<string, struct>`` keyed by
    ``String(pk)`` — the reference's inline_add_map.painless variant
    (``ctx._source[inline][String(pk)] = obj``), where upsert is a plain
    keyed put. Deletes remove the key (a strict superset of the reference,
    which ships only the add script for maps — search/scripts.go:15).

    Semantics per painless script:
      - upsert on a parent that exists: replace the array element whose
        ``child_pk`` matches, else append (order is normalized by
        ``sort_array`` — ES asserts element SET equality, not order);
      - upsert on a missing parent with ``upsert_missing=True``: create a
        stub parent (key columns + the array; other columns null) — the
        reference's ``scripted_upsert:true`` upsert document;
      - delete of an element absent from its parent, or on a missing
        parent: noop (inline_del.painless's ``ctx.op = 'noop'``).

    Execution shape (scales like partial updates): one groupBy collapsing
    the batch to per-parent (touched keys, upserted elements), one
    broadcast inner join against the stored _source (the distributed
    analogue of ES's per-update GET), one higher-order-function array
    rewrite — then the merged full rows re-index as a superseding
    generation via ``add_generation`` (get → merge → reindex, the same
    path ES's scripted updates take internally).
    """
    if not _load_gens(index_dir):
        _adopt_plain_index(index_dir)
    cfg = derive_index_cfg(index_dir, cfg)
    if not cfg.store_source:
        raise ValueError(
            "apply_inline_updates requires an index built with "
            "store_source=True: the parent's current array must be read "
            "back to merge element-level edits (ES reads _source the same "
            "way before running the inline scripts)"
        )
    if field not in cfg.input_columns:
        raise ValueError(f"inline field {field!r} is not an index column")
    if field_kind not in ("array", "map"):
        raise ValueError(f"field_kind must be 'array' or 'map', got {field_kind!r}")
    _require_stored_source(index_dir)
    cur = source_view(spark, index_dir)
    ftype = cur.schema[field].dataType  # ArrayType(Struct) | MapType(str, Struct)
    elem_t = ftype.valueType if field_kind == "map" else ftype.elementType
    elem_fields = list(elem_t.fieldNames())
    if child_pk not in elem_fields:
        raise ValueError(
            f"child_pk {child_pk!r} is not a field of the stored "
            f"{field!r} element struct ({elem_fields})"
        )
    missing_payload = [c for c in elem_fields if c not in child_batch.columns]
    if missing_payload:
        raise ValueError(
            f"child batch lacks element columns {missing_payload} — every "
            f"field of the stored {field!r} element must be supplied"
        )

    cols = set(child_batch.columns)
    has_seq = "_seq" in cols
    seq = (F.col("_seq").cast("long") if has_seq else F.lit(0).cast("long"))
    is_del = (
        # null-safe: a CDC insert row leaves _change_type NULL, and
        # NULL == 'delete' is NULL (not False) — it would poison every
        # boolean downstream (~NULL filters, when(NULL) drops)
        F.coalesce(F.col(CHANGE_COL) == "delete", F.lit(False))
        if CHANGE_COL in cols else F.lit(False)
    )
    elem = F.struct(
        *[F.col(c).cast(elem_t[c].dataType).alias(c) for c in elem_fields]
    )
    base = child_batch.select(
        "repo", "path", F.col(child_pk).alias("_ck"),
        elem.alias("_elem"), seq.alias("_sq"), is_del.alias("_del"),
    )
    if "_old_repo" in cols or "_old_path" in cols:
        o_r = (F.coalesce(F.col("_old_repo"), F.col("repo"))
               if "_old_repo" in cols else F.col("repo"))
        o_p = (F.coalesce(F.col("_old_path"), F.col("path"))
               if "_old_path" in cols else F.col("path"))
        moved = child_batch.filter(
            ((o_r != F.col("repo")) | (o_p != F.col("path"))) & ~is_del
        )
        base = base.unionByName(
            moved.select(
                o_r.alias("repo"), o_p.alias("path"),
                F.col(child_pk).alias("_ck"), elem.alias("_elem"),
                seq.alias("_sq"), F.lit(True).alias("_del"),
            )
        )
    # last action per (parent, child key): struct-max on (_seq, del, elem).
    # _n (events per key) rides along so the no-_seq duplicate guard is a
    # column on the SAME aggregation instead of its own groupBy+count job.
    acts = (
        base.groupBy("repo", "path", "_ck")
        .agg(F.max(F.struct("_sq", "_del", "_elem")).alias("_a"),
             F.count("*").alias("_n"))
        .select("repo", "path", "_ck", F.col("_n"),
                F.col("_a._del").alias("_del"), F.col("_a._elem").alias("_elem"))
    )
    per_parent = acts.groupBy("repo", "path").agg(
        F.collect_list("_ck").alias("_touched"),
        # collect_list drops nulls → only the upserted elements survive
        F.collect_list(F.when(~F.col("_del"), F.col("_elem"))).alias("_adds"),
        F.sum(F.when(F.col("_n") > 1, 1).otherwise(0)).alias("_ndup"),
    )
    if dry_run and not has_seq:
        # plan-audit path stays job-free up to the returned plan; run the
        # stand-alone guard the audited plan does not include
        dup = int(
            per_parent.agg(F.sum("_ndup").alias("d")).collect()[0]["d"] or 0
        )
        if dup:
            raise ValueError(
                f"{dup} (parent, {child_pk}) keys appear more than once in "
                "an unordered child batch — add a _seq column to order them "
                "(the reference applies WAL changes in LSN order)"
            )
    others = [c for c in cfg.input_columns if c not in ("repo", "path")]
    cur_sel = cur.select(
        "repo", "path", *[F.col(c).alias(f"_cur_{c}") for c in others]
    )
    if field_kind == "map":
        # inline_add_map semantics: keyed put / keyed remove on the
        # map<String(pk), obj> field — map_filter drops the touched keys,
        # map_concat re-adds the upserted objects (disjoint by
        # construction, so Spark's duplicate-map-key guard never fires)
        from pyspark.sql.types import ArrayType, StringType, StructField, StructType

        entries_t = ArrayType(
            StructType([StructField("key", StringType()),
                        StructField("value", elem_t)])
        )
        touched_s = F.transform(F.col("_touched"), lambda x: x.cast("string"))
        kept = F.map_filter(
            F.coalesce(
                F.col(f"_cur_{field}"),
                F.map_from_entries(F.array().cast(entries_t)),
            ),
            lambda mk, _v: ~F.array_contains(touched_s, mk),
        )
        adds_map = F.map_from_entries(
            F.transform(
                F.col("_adds"),
                lambda e: F.struct(
                    e[child_pk].cast("string").alias("key"), e.alias("value")
                ),
            )
        )
        new_arr = F.map_concat(kept, adds_map)
        stub_field_expr = adds_map
    else:
        empty_arr = F.array().cast(ftype)
        kept = F.filter(
            F.coalesce(F.col(f"_cur_{field}"), empty_arr),
            lambda e: ~F.array_contains(F.col("_touched"), e[child_pk]),
        )
        new_arr = F.sort_array(F.concat(kept, F.col("_adds")))
        stub_field_expr = F.sort_array(F.col("_adds")).cast(ftype)
    # one probe scan of the doc store, batch side broadcast (ES per-update
    # GET, distributed); cache so the stub/noop accounting below and the
    # index build don't re-run it
    hit = cur_sel.join(F.broadcast(per_parent), ["repo", "path"], "inner")
    merged = hit.select(
        "repo", "path",
        *[(new_arr if c == field else F.col(f"_cur_{c}")).alias(c)
          for c in others],
    )
    if dry_run:
        # plan-audit hook: the UNEXECUTED resolution plan (no persist, no
        # counting jobs, no generation committed)
        return merged
    # ONE materialization of the collapsed batch serves three earlier jobs:
    # the duplicate-key guard, the parent count, and the broadcast build
    # for the probe join all read the persisted per_parent
    per_parent = per_parent.persist()
    row = per_parent.agg(
        F.count("*").alias("np"), F.sum("_ndup").alias("d")
    ).collect()[0]
    n_parents = int(row["np"])
    if not has_seq and int(row["d"] or 0):
        dup = int(row["d"])
        per_parent.unpersist()
        raise ValueError(
            f"{dup} (parent, {child_pk}) keys appear more than once in "
            "an unordered child batch — add a _seq column to order them "
            "(the reference applies WAL changes in LSN order)"
        )
    merged = merged.persist()
    n_hit = merged.count()
    out = merged
    n_stub = 0
    stubs = None
    if n_hit < n_parents:
        miss = per_parent.join(
            F.broadcast(merged.select("repo", "path")), ["repo", "path"],
            "left_anti",
        )
        if upsert_missing:
            stub_t = {c: cur.schema[c].dataType for c in others}
            stubs = miss.filter(F.size("_adds") > 0).select(
                "repo", "path",
                *[
                    (stub_field_expr if c == field
                     else F.lit(None).cast(stub_t[c])).alias(c)
                    for c in others
                ],
            ).persist()
            n_stub = stubs.count()
            if n_stub:
                out = merged.unionByName(stubs)
    stats = add_generation(
        spark, out, index_dir, cfg, epoch_id=epoch_id, epoch_source=epoch_source
    )
    merged.unpersist()
    per_parent.unpersist()
    if stubs is not None:
        stubs.unpersist()  # one leaked cache per streamed batch otherwise
    stats["inline_parents_updated"] = int(n_hit)
    stats["inline_parents_created"] = int(n_stub)
    stats["inline_parents_noop"] = int(n_parents - n_hit - n_stub)
    return stats


@_locked_writer(2)
def add_generation(
    spark,
    batch_df,
    index_dir: str,
    cfg: IndexConfig | None = None,
    epoch_id: int | None = None,
    epoch_source: str = "main",
) -> dict:
    """Index one micro-batch as a new generation; returns its stats.

    ``epoch_source`` namespaces the replay watermark: two independent
    streams feeding ONE index (the main-table CDC via ``index_stream`` and
    a child-table CDC via ``inline_stream``) each have their own
    monotonically-increasing foreachBatch epoch counter, so replay
    protection must compare epochs only within the stream that produced
    them — the reference has a single WAL LSN space, but Spark gives each
    query its own batchId sequence.

    Rows with ``_change_type = 'delete'`` become tombstones (only their
    (repo, path) key is used); ``'update_partial'`` rows carry a SUBSET of
    columns (null = unchanged) and are resolved against the stored _source
    before indexing (see ``_resolve_partial_updates``; requires
    ``store_source=True`` builds); everything else is upserted. Passing the
    foreachBatch ``epoch_id`` makes replays of an already-committed epoch
    a no-op (exactly-once generation content over at-least-once delivery).
    """
    cfg = cfg or IndexConfig()
    # a new generation must not join an index of an older format
    committed = [g for g in _load_gens(index_dir) if g["dir"]]
    for g in committed:
        _gen_stats(index_dir, g)
    if not committed and os.path.exists(os.path.join(index_dir, "stats.json")):
        read_stats(index_dir)
    # a plain build_index output at index_dir becomes generation 0
    # (otherwise this batch would orphan it — see _adopt_plain_index);
    # called unconditionally so a crashed adoption is completed too
    gens = _adopt_plain_index(index_dir)
    # EVERY batch against an existing index must be built with the index's
    # own flags (positions/source/analyzers/k1/b) — ES semantics: settings
    # are fixed at creation. Without this, a plain insert batch with the
    # caller's/default cfg against a fielded or positional index would
    # index unqualified terms (field:term queries silently stop matching
    # new docs) or diverge postings schemas across generations.
    cfg = derive_index_cfg(index_dir, cfg)
    if epoch_id is not None:
        # Spark batchIds are monotonic per stream, so any epoch at or below
        # this source's folded watermark is an at-least-once replay
        if epoch_id <= _fold_epochs(gens).get(epoch_source, -1):
            last = next(
                (g for g in reversed(gens)
                 if g.get("epoch_source", "main") == epoch_source
                 and g.get("epoch_id") == epoch_id),
                gens[-1] if gens else {"n_docs": 0, "total_tokens": 0},
            )
            return {"n_docs": last["n_docs"], "total_tokens": last["total_tokens"],
                    "replayed": True}

    deleted_ids: list[int] = []
    partial_missing = 0
    merged_partials = None
    if CHANGE_COL in batch_df.columns:
        dels = batch_df.filter(F.col(CHANGE_COL) == "delete")
        deleted_ids = sorted(
            int(r["doc_id"])
            for r in with_doc_ids(dels.withColumn("content", F.lit("")))
            .select("doc_id").distinct().collect()
        )
        partials = batch_df.filter(F.col(CHANGE_COL) == "update_partial")
        batch_df = batch_df.filter(
            (~F.col(CHANGE_COL).isin("delete", "update_partial"))
            | F.col(CHANGE_COL).isNull()
        ).drop(CHANGE_COL)
        if not partials.isEmpty():
            merged_partials, partial_missing = _resolve_partial_updates(
                spark, partials.drop(CHANGE_COL), index_dir, cfg
            )
            batch_df = batch_df.select(*cfg.input_columns).unionByName(merged_partials)

    gen_id = len(gens)
    gen_dir = os.path.join(index_dir, f"gen={gen_id}")
    shutil.rmtree(gen_dir, ignore_errors=True)  # partial output from a crash
    if batch_df.isEmpty():
        stats = {"n_docs": 0, "total_tokens": 0}
        gen_dir = None  # delete-only generation: tombstones, no postings
    else:
        # transient sink failures retry with backoff; schema errors escalate
        # (K6 taxonomy — reference search/errors.go:9-47)
        stats = with_retries(lambda: build_index(spark, batch_df, gen_dir, cfg))
    if merged_partials is not None:
        merged_partials.unpersist()
        stats["partial_updates_missing"] = partial_missing
    gens.append(
        {
            "gen": gen_id,
            "dir": gen_dir,
            "n_docs": stats["n_docs"],
            "total_tokens": stats["total_tokens"],
            "epoch_id": epoch_id,
            **({"epoch_source": epoch_source} if epoch_id is not None
               and epoch_source != "main" else {}),
            "deleted_ids": deleted_ids,
        }
    )
    _save_gens(index_dir, gens)  # commit point (reference: LSN ack after flush)
    return stats


METRICS_FILE = "metrics.json"

# slot_lag's parsed-log cache: {logdir: {filename: ((name, size, mtime_ns),
# frozenset_of_paths)}} — log files are append-once (Spark writes each
# batch's metadata file atomically), so (size, mtime) identifies content
_SLOT_LAG_CACHE: dict[str, dict] = {}


def slot_lag(index_dir: str, input_dir: str,
             checkpoint_name: str = "_checkpoint") -> dict:
    """Replication-lag gauge — the engine's analogue of the reference's
    ``slot_lag`` Prometheus gauge (postgres/slot_lag.go:15-39: WAL bytes
    between ``pg_current_wal_lsn`` and the slot's ``confirmed_flush_lsn``).
    For a file-source stream the equivalent two positions are the INPUT
    LISTING (current source state) and the checkpoint's file-source
    metadata log (what the stream has committed):

      - ``pending_input_files`` — files present under ``input_dir`` that no
        committed micro-batch has recorded yet;
      - ``seconds_behind_source`` — age of the oldest such file (0 when
        caught up), the time-domain form of the byte lag.

    Driver-side metadata only (one directory listing + incremental log
    reads) — no Spark job, so it is safe to compute per batch or per
    scrape. Already-parsed log files are cached per (size, mtime): without
    that, a long-lived stream would re-read its entire batch history every
    call — O(batches²) cumulative work (r5 review)."""
    import glob as _glob
    import time as _time
    from urllib.parse import unquote, urlparse

    def _norm(uri: str) -> str:
        # Spark logs Hadoop-qualified URIs: "file:///x/y", the single-slash
        # "file:/x/y" form, and percent-encoded names ("a%20b"). urlparse
        # handles all three; a bare path passes through (empty scheme).
        parsed = urlparse(uri)
        return unquote(parsed.path) if parsed.scheme else uri

    committed: set[str] = set()
    logdir = os.path.join(index_dir, checkpoint_name, "sources", "0")
    cache = _SLOT_LAG_CACHE.setdefault(os.path.abspath(logdir), {})
    if os.path.isdir(logdir):
        for fn in os.listdir(logdir):
            p = os.path.join(logdir, fn)
            # skip .crc sidecars and other hidden/binary companions
            if not os.path.isfile(p) or fn.startswith("."):
                continue
            st = os.stat(p)
            key = (fn, st.st_size, st.st_mtime_ns)
            hit = cache.get(fn)
            if hit is not None and hit[0] == key:
                committed |= hit[1]
                continue
            paths: set[str] = set()
            with open(p, errors="replace") as f:
                for line in f:
                    line = line.strip()
                    if line.startswith("{"):
                        try:
                            uri = json.loads(line)["path"]
                        except (KeyError, ValueError):
                            continue
                        paths.add(_norm(uri))
            cache[fn] = (key, paths)
            committed |= paths
    now = _time.time()
    oldest = None
    pending = 0
    for p in _glob.glob(os.path.join(input_dir, "**", "*"), recursive=True):
        base = os.path.basename(p)
        # same visibility rule as Spark's file source: _ and . files are
        # metadata, not input
        if not os.path.isfile(p) or base.startswith(("_", ".")):
            continue
        if os.path.abspath(p) in committed:
            continue
        pending += 1
        try:
            mt = os.path.getmtime(p)
        except OSError:
            continue
        oldest = mt if oldest is None else min(oldest, mt)
    return {
        "pending_input_files": pending,
        "seconds_behind_source": round(max(0.0, now - oldest), 3)
        if oldest is not None
        else 0.0,
    }


@_locked_writer(0)
def write_metrics(index_dir: str, extra: dict | None = None) -> dict:
    """K9 runtime observability for the replication loop — the engine's
    analogue of the reference's Prometheus counters + /state healthcheck
    (reference: state.go:9-17 healthcheck state; postgres/slot_lag.go:15-39
    slot-lag gauge; postgres/replication.go:24-32 counter registry).

    Derived from generations.json (the commit log), so it is always
    consistent with what queries can see: generation counts, docs/tokens
    indexed, tombstone totals, and the epoch watermark (= replication
    progress, the LSN analogue). ``extra`` lets the streaming loop attach
    per-batch gauges (rows, duration). Written atomically next to the
    index; a metrics scraper tails this file instead of an HTTP endpoint —
    the right shape for a Spark driver, which may not own a stable port.
    """
    m = _compute_metrics(index_dir)
    if extra:
        m.update(extra)
    # monotonic ingest counters (Prometheus-counter semantics — the live
    # docs_indexed gauge above deflates on merge, a counter never does):
    # accumulate the per-batch doc count across writes; replayed batches
    # don't count (exactly-once over at-least-once delivery)
    prev = {}
    p = os.path.join(index_dir, METRICS_FILE)
    if os.path.exists(p):
        with open(p) as f:
            prev = json.load(f)
    batch_docs = int((extra or {}).get("last_batch_docs", 0))
    if (extra or {}).get("last_batch_replayed"):
        batch_docs = 0
    m["docs_ingested_total"] = int(prev.get("docs_ingested_total", 0)) + batch_docs
    write_durable(p, json.dumps(m, indent=2))
    return m


def read_metrics(index_dir: str) -> dict:
    """Last written metrics snapshot; for an index that never streamed
    (build/ingest only — nothing wrote metrics.json yet) fall back to
    computing the snapshot from the generations commit log, without
    writing (a read must stay side-effect-free)."""
    p = os.path.join(index_dir, METRICS_FILE)
    if not os.path.exists(p):
        return _compute_metrics(index_dir)
    with open(p) as f:
        return json.load(f)


def _compute_metrics(index_dir: str) -> dict:
    import time as _time

    gens = _load_gens(index_dir)
    # replication progress per source stream (main = index_stream, others =
    # e.g. inline_stream); last_epoch stays the main-stream watermark for
    # backward compatibility with existing scrapers
    eps = _fold_epochs(gens)
    epochs = [eps["main"]] if "main" in eps else []
    live = [g for g in gens if g["dir"]]
    return {
        "generations": len(gens),
        "live_generations": len(live),
        # live gauge: doc versions currently indexed (live generations only —
        # a merge that collapses generations must not inflate this; counting
        # merged-away records would double-count every re-indexed doc)
        "docs_indexed": int(sum(g["n_docs"] for g in live)),
        "tokens_indexed": int(sum(g["total_tokens"] for g in live)),
        "tombstones_total": int(sum(len(g.get("deleted_ids", ())) for g in gens)),
        "last_epoch": max(epochs) if epochs else None,
        **({"last_epochs": eps} if len(eps) > (1 if "main" in eps else 0) else {}),
        "updated_unix": round(_time.time(), 3),
    }


def index_stream(spark, input_dir: str, index_dir: str, schema: str,
                 cfg: IndexConfig | None = None, trigger: dict | None = None,
                 max_generations: int | None = None,
                 max_files_per_trigger: int | None = None,
                 source_name: str = "main"):
    """Structured Streaming: parquet files arriving in input_dir → generations.

    trigger: ``{"availableNow": True}`` (default — drain what exists, then
    stop) or ``{"processingTime": "N seconds"}`` (long-running replication
    loop, the reference's steady-state mode, replication.go:136-227).
    Checkpoint + per-epoch generation commit make each file indexed exactly
    once across restarts. Returns the streaming query (caller awaits /
    stops it).

    ``max_generations``: Lucene-style merge policy — when the generation
    count exceeds it after a batch, ``merge_generations`` collapses the
    index in-place (from index data alone; queries between batches see
    either the pre- or post-merge layout, both rank-identical). A merged
    epoch stays replay-safe: the epoch watermark survives the merge.

    Schema drift (the reference rebinds columns on every RelationMessage,
    postgres/replication.go:247-263; a fixed-schema Spark stream cannot):
    every batch's source files are footer-checked against the bound
    schema. A file MISSING a bound column (drop/rename upstream) would
    silently fabricate all-null values for it — that fails fast with a
    typed ``SchemaMismatch`` (K6 FATAL: restart with a corrected schema).
    ADDITIVE columns are benign the same way the reference's unmapped
    columns are (ignored by the doc transform): they are recorded in the
    metrics surface (``schema_extra_columns``) and the batch proceeds.
    The footer reads are driver-side metadata lookups, O(files/batch).
    """
    from pyspark.sql.types import StructType

    bound_fields = set(
        StructType.fromDDL(schema).fieldNames() if isinstance(schema, str)
        else schema.fieldNames()
    )

    def _batch_files(epoch_id: int) -> list[str] | None:
        """The micro-batch's source files, from the file-source metadata
        log (``checkpoint/sources/0/<batch>`` — the commit record Spark
        itself replays from; ``batch_df.inputFiles()`` is empty inside
        foreachBatch). Every compactInterval-th batch Spark writes
        ``<batch>.compact`` instead — a cumulative log — so fall back to
        it and keep only THIS batch's entries (batchId field). Returns
        ``None`` (not ``[]``) when the log entry cannot be found — e.g. a
        non-local checkpoint filesystem or an unexpected log layout — so
        the caller can surface the skipped schema check instead of
        silently passing it."""
        p = os.path.join(checkpoint, "sources", "0", str(int(epoch_id)))
        if not os.path.exists(p):
            p += ".compact"
            if not os.path.exists(p):
                return None
        out = []
        with open(p) as f:
            for line in f:
                line = line.strip()
                if line.startswith("{"):
                    ent = json.loads(line)
                    if int(ent.get("batchId", epoch_id)) == int(epoch_id):
                        out.append(ent["path"])
        return out

    def _check_batch_schema(epoch_id: int) -> tuple[list[str], bool]:
        """Returns ``(extra_columns, checked)``. ``checked=False`` means the
        file-source metadata log was unreadable and the drift guard did NOT
        run — recorded as a ``schema_check_skipped`` metric by the caller so
        the skipped check is visible (ADVICE r4: a silent [] here would
        quietly disable the very guard this feature exists to provide)."""
        files = _batch_files(epoch_id)
        if files is None:
            return [], False
        extra: set[str] = set()
        for fpath in files:
            actual = set(spark.read.parquet(fpath).schema.fieldNames())
            missing = bound_fields - actual
            if missing:
                raise SchemaMismatch(
                    f"input file {fpath} lacks bound columns {sorted(missing)} "
                    "(dropped or renamed upstream) — the stream would fabricate "
                    "nulls for them; restart index_stream with a corrected schema"
                )
            extra |= actual - bound_fields
        return sorted(extra), True

    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(input_dir)
    # ``source_name`` namespaces both the checkpoint dir and the epoch
    # watermark, so N table streams can feed ONE index (replicate_tables);
    # the default keeps the historical single-stream layout.
    checkpoint = os.path.join(
        index_dir,
        "_checkpoint" if source_name == "main" else f"_checkpoint_{source_name}",
    )
    mkey = "" if source_name == "main" else f"{source_name}_"

    def process(batch_df, epoch_id: int):
        import time as _time

        if batch_df.isEmpty():
            return
        t0 = _time.time()
        extra_cols, schema_checked = _check_batch_schema(int(epoch_id))
        st = add_generation(spark, batch_df, index_dir, cfg,
                            epoch_id=int(epoch_id), epoch_source=source_name)
        if max_generations is not None:
            gens = _load_gens(index_dir)
            if len(gens) > max_generations and sum(1 for g in gens if g["dir"]) >= 1:
                merge_generations(spark, index_dir, cfg)
        write_metrics(index_dir, {
            f"{mkey}last_batch_docs": int(st.get("n_docs", 0)),
            f"{mkey}last_batch_sec": round(_time.time() - t0, 3),
            f"{mkey}last_batch_replayed": bool(st.get("replayed", False)),
            **({f"{mkey}schema_extra_columns": extra_cols} if extra_cols else {}),
            **({} if schema_checked else {f"{mkey}schema_check_skipped": 1}),
            **{f"{mkey}{k}": v for k, v in slot_lag(
                index_dir, input_dir,
                "_checkpoint" if source_name == "main"
                else f"_checkpoint_{source_name}").items()},
        })

    return (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint)
        .trigger(**(trigger or {"availableNow": True}))
        .start()
    )


def inline_stream(spark, input_dir: str, index_dir: str, schema: str,
                  cfg: IndexConfig | None = None, field: str = "inlined",
                  child_pk: str = "ck", upsert_missing: bool = True,
                  trigger: dict | None = None,
                  max_files_per_trigger: int | None = None,
                  field_kind: str = "array",
                  source_name: str = "inline"):
    """Continuous CHILD-table replication into parent docs' inline arrays —
    the streaming counterpart of the reference's live painless-script
    denormalization (postgres/inline.go:111-170): each micro-batch of child
    CDC events becomes element-level edits on the parents' stored arrays
    via ``apply_inline_updates``, committed as a superseding generation.

    Runs beside ``index_stream`` against the SAME index: it keeps its own
    checkpoint (``_inline_checkpoint``) and its epochs are namespaced
    (``epoch_source='inline'``), so at-least-once replays of either stream
    stay exactly-once without the two batchId counters colliding.

    ``schema`` describes the child event files: parent key (repo, path),
    the element payload columns, and optionally _change_type/_seq/
    _old_repo/_old_path (see ``apply_inline_updates``).
    """
    ckname = (
        "_inline_checkpoint" if source_name == "inline"
        else f"_checkpoint_{source_name}"
    )
    checkpoint = os.path.join(index_dir, ckname)
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(input_dir)

    def process(batch_df, epoch_id: int):
        import time as _time

        if batch_df.isEmpty():
            return
        t0 = _time.time()
        st = apply_inline_updates(
            spark, batch_df, index_dir, cfg, field=field, child_pk=child_pk,
            upsert_missing=upsert_missing, epoch_id=int(epoch_id),
            field_kind=field_kind, epoch_source=source_name,
        )
        write_metrics(index_dir, {
            "last_inline_batch_parents": int(st.get("inline_parents_updated", 0))
            + int(st.get("inline_parents_created", 0)),
            "last_inline_batch_noop": int(st.get("inline_parents_noop", 0)),
            "last_batch_docs": int(st.get("n_docs", 0)),
            "last_batch_sec": round(_time.time() - t0, 3),
            "last_batch_replayed": bool(st.get("replayed", False)),
            **{f"{source_name}_{k}": v for k, v in
               slot_lag(index_dir, input_dir, ckname).items()},
        })

    return (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint)
        .trigger(**(trigger or {"availableNow": True}))
        .start()
    )


@_locked_writer(2)
def compact(spark, corpus_df, index_dir: str, cfg: IndexConfig | None = None) -> dict:
    """Merge all generations into one by rebuilding from the current table
    snapshot (reference analogue: full reindex from a consistent snapshot,
    postgres/reindex.go + replication.go:100-112). Tombstones and
    superseded versions vanish — the snapshot is the truth. The old
    generations stay readable until the new one is committed."""
    cfg = cfg or IndexConfig()
    gens = _load_gens(index_dir)
    gen_dir = _rewrite_dir(index_dir, gens)
    stats = build_index(spark, corpus_df, gen_dir, cfg)
    _commit_rewrite(index_dir, gens, {"gen": 0, "dir": gen_dir, "n_docs": stats["n_docs"],
                                      "total_tokens": stats["total_tokens"],
                                      "epoch_id": None, "deleted_ids": []})
    return stats


class MultiGenReader(IndexReader):
    """``IndexReader`` under its generational name. It adds nothing: the
    reader entry points are bound here again only so that each class owns
    them (``perfbench/spans.py`` wraps them per class, and a call through
    an inherited entry would be traced twice)."""

    pin_driver = IndexReader.pin_driver
    doc_arrays = IndexReader.doc_arrays
    fetch_blocks = IndexReader.fetch_blocks


@_locked_writer(1)
def merge_generations(spark, index_dir: str, cfg: IndexConfig | None = None) -> dict:
    """Lucene-style SEGMENT MERGE: collapse all generations into one WITHOUT
    touching the source table. ``compact()`` re-reads and re-tokenizes the
    snapshot (the reference's only option — a full reindex,
    postgres/reindex.go); a merge instead rebuilds purely from index data:
    read every generation's postings (term, slot, tf[, positions]), resolve
    liveness (last-wins + tombstones), reassign dense doc_idx over the LIVE
    docs, and re-run the standard postings/finalize build stages on the
    result. Statistics (N, avgdl, df) come out computed
    over live docs only — exactly what a Lucene merge does to purge
    tombstones. Fully distributed: the only driver state is O(P) offsets.
    """
    import time as _time

    from search_replica_spark.index.build import (
        _stage_finalize,
        _stage_segments,
        assign_dense_doc_idx,
    )

    t0 = _time.time()
    # derive EVERY build flag from the index itself (field_analyzers
    # included — the merged generation must keep qualifying terms and
    # regenerating per-field stats); the positions/source cross-checks
    # below still validate generation uniformity
    cfg = derive_index_cfg(index_dir, cfg)
    gens = _load_gens(index_dir)
    live_gens = [g for g in gens if g["dir"]]
    if not live_gens:
        raise FileNotFoundError(f"no generations with documents at {index_dir}")

    # a merge must preserve what the generations actually stored, regardless
    # of the cfg handed in: a positional index silently losing its positions
    # (phrase queries break after merge) is never acceptable, and a
    # non-positional one cannot invent them. Derive store_positions from the
    # generations' own stats and fail fast on a mixed set.
    import dataclasses

    gen_pos, gen_src = set(), set()
    for g in live_gens:
        gst = _gen_stats(index_dir, g)
        gen_pos.add(bool(gst.get("store_positions", False)))
        gen_src.add(bool(gst.get("store_source", False)))
    if len(gen_pos) > 1:
        raise ValueError(
            "cannot merge generations with mixed store_positions — compact() "
            "from the source snapshot instead"
        )
    # stored _source survives the merge the same way positions do: a merged
    # index that silently lost its source would break every later partial/
    # scripted update (they resolve against docs/), and a sourceless one
    # cannot invent it. Mixed sets cannot produce a uniform store.
    if len(gen_src) > 1:
        raise ValueError(
            "cannot merge generations with mixed store_source — compact() "
            "from the source snapshot instead"
        )
    has_positions = gen_pos.pop()
    has_source = gen_src.pop()
    if cfg.store_positions != has_positions or cfg.store_source != has_source:
        cfg = dataclasses.replace(
            cfg, store_positions=has_positions, store_source=has_source
        )
    live = live_docs(spark, gens)
    # keep every column the docs stores carry (store_source rides through)
    meta_cols = [c for c in live.columns if c != "slot"]
    if live.isEmpty():
        raise ValueError("merge would produce an empty index (everything deleted)")

    out = _rewrite_dir(index_dir, gens)
    # the dense assign's output is already range-partitioned and sorted in
    # doc_idx order — write_to persists it directly (no second shuffle) and
    # releases the internal cache
    assign_dense_doc_idx(
        live.select(*meta_cols), cfg.shuffle_partitions,
        write_to=os.path.join(out, "docs"),
    )

    # every generation's postings, read with their slot base directly and
    # their term strings joined back from the generation's dictionary, form
    # the standard stage intermediate over the live docs
    pos_cols = ["positions"] if has_positions else []
    bases = slot_bases(gens)
    posts = functools.reduce(DataFrame.unionByName, [
        spark.read.parquet(os.path.join(g["dir"], "postings"))
        .join(spark.read.parquet(os.path.join(g["dir"], "dict"))
              .select("term", "term_id"), "term_id")
        .select("term", (F.col("doc_idx") + F.lit(bases[g["gen"]])).alias("slot"),
                "tf", *pos_cols)
        for g in live_gens
    ])
    merged = posts.join(live.select("slot", "doc_id"), "slot").select(
        "doc_id", "term", "tf", *pos_cols
    )
    merged.write.mode("overwrite").parquet(os.path.join(out, "_tokens"))

    core = _stage_segments(spark, out, cfg)
    stats = _stage_finalize(spark, out, cfg, core, t0)

    # epoch watermarks survive the merge so an at-least-once replay of a
    # pre-merge epoch stays a no-op (exactly-once across merges); folded
    # PER SOURCE STREAM — index_stream ("main") and inline_stream
    # ("inline") have independent batchId counters (see add_generation)
    max_eps = _fold_epochs(gens)
    _commit_rewrite(index_dir, gens, {
        "gen": 0, "dir": out, "n_docs": stats["n_docs"],
        "total_tokens": stats["total_tokens"], "epoch_id": None, "deleted_ids": [],
        "max_epoch": max_eps.get("main"), **({"max_epochs": max_eps} if max_eps else {}),
    })
    return stats


# the distributed plan under its generational name: bm25_topk_spark runs
# over the generation list, a plain index being one generation
bm25_topk_spark_multigen = bm25_topk_spark


# retained for callers that tokenized via this module
__all__ = [
    "MultiGenReader",
    "add_generation",
    "bm25_topk_spark_multigen",
    "compact",
    "derive_index_cfg",
    "index_stream",
    "merge_generations",
    "read_metrics",
    "scripted_update",
    "source_view",
    "tokenize_text",
    "write_metrics",
]


def delete_by_query(spark, index_dir: str, query, cfg: IndexConfig | None = None) -> dict:
    """ES ``_delete_by_query``: tombstone every LIVE document matching the
    query. ``query`` is a plain match string or an ES Query-DSL dict (the
    body a reference user posts today — routed through execute_dsl).

    Shape: matching runs on the serving reader (its liveDocs already
    hide earlier deletes);
    the matched ids resolve to their (repo, path) keys with ONE pushed-
    down GET over the stored ``_source`` (requires a store_source build,
    exactly like ES's _delete_by_query needs _source to identify docs),
    and the keys commit as one delete-only tombstone generation — the
    same path streamed CDC deletes take, so compaction/merge/metrics all
    treat them identically."""
    from pyspark.sql import functions as F

    from search_replica_spark.query.bm25 import TermAtATimeScorer

    # a plain build becomes generation 0 first (idempotent — the same
    # adoption every ingest entry point performs), so matching, the GET,
    # and the tombstone all speak the generational layout
    _adopt_plain_index(index_dir)
    reader = IndexReader(spark, index_dir)
    n = int(reader.doc_arrays()[0].size) or 1
    if isinstance(query, dict):
        from search_replica_spark.query.dsl import execute_dsl

        hits = execute_dsl(reader, query, k=n)
    else:
        hits = TermAtATimeScorer(reader).score(
            str(query), n, live=reader._live
        )
    ids = [int(d) for d, _s in hits]
    if not ids:
        return {"deleted": 0, "n_docs": 0, "total_tokens": 0}
    keys = (
        source_view(spark, index_dir)
        .filter(F.col("doc_id").isin(ids))
        .select("repo", "path")
        .withColumn(CHANGE_COL, F.lit("delete"))
    )
    st = add_generation(spark, keys, index_dir, cfg or IndexConfig())
    st["deleted"] = len(ids)
    return st


def update_by_query(
    spark, index_dir: str, query, set_exprs: dict, cfg: IndexConfig | None = None
) -> dict:
    """ES ``_update_by_query`` with a script: the docs matching a SEARCH
    query (match text or ES DSL dict) get ``set_exprs`` applied and
    re-index as a superseding generation. The match resolves to engine
    doc_ids on the serving reader, then the whole update runs as
    ``scripted_update``'s one distributed Catalyst plan gated on
    ``doc_id IN (matched)`` — no per-doc loop. The gate is a literal IN
    list (Catalyst handles six-figure lists; beyond that, prefer
    ``scripted_update`` with a WHERE over the doc columns directly — the
    set-oriented form that needs no id materialization at all)."""
    from search_replica_spark.query.bm25 import TermAtATimeScorer

    _adopt_plain_index(index_dir)
    reader = IndexReader(spark, index_dir)
    n = int(reader.doc_arrays()[0].size) or 1
    if isinstance(query, dict):
        from search_replica_spark.query.dsl import execute_dsl

        hits = execute_dsl(reader, query, k=n)
    else:
        hits = TermAtATimeScorer(reader).score(
            str(query), n, live=reader._live
        )
    ids = [int(d) for d, _s in hits]
    if not ids:
        return {"updated": 0, "n_docs": 0, "total_tokens": 0}
    where = f"doc_id IN ({', '.join(str(i) for i in ids)})"
    st = scripted_update(spark, index_dir, where, set_exprs, cfg)
    st["updated"] = len(ids)
    return st


def reindex(
    spark,
    src_index: str,
    dest_index: str,
    where: str | None = None,
    cfg: IndexConfig | None = None,
) -> dict:
    """ES ``_reindex``: build a NEW index from another index's live stored
    ``_source`` (optionally filtered) — the settings-change / subset-copy
    workflow ES pairs with aliases for zero-downtime swaps. One Catalyst
    plan: source_view (last-wins + tombstones applied) → optional pushed-
    down filter → the standard staged build into ``dest_index``. ``cfg``
    sets the DESTINATION's creation-time flags (defaults to the source's
    own derived config, ES's copy-settings behavior)."""
    from search_replica_spark.index.build import build_index

    _adopt_plain_index(src_index)
    cfg = derive_index_cfg(src_index, cfg or IndexConfig())
    docs = source_view(spark, src_index).select(*cfg.input_columns)
    if where:
        docs = docs.filter(where)
    return build_index(spark, docs, dest_index, cfg)
