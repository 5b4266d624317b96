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
    (last-wins by arrival order — reference P16, table.go:56-63); readers
    resolve liveness Lucene-style via a liveDocs mask;
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
sidecar and the liveness pass below would read that instead — nothing else
changes.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
from pyspark.sql import functions as F

from search_replica_spark.analysis import tokenize_text
from search_replica_spark.config import IndexConfig
from search_replica_spark.errors import SchemaMismatch, with_retries
from search_replica_spark.index.build import build_index, with_doc_ids
from search_replica_spark.query.bm25 import IndexReader, TermAtATimeScorer, wand_topk
from search_replica_spark.query.store import BlockStore

GENS_FILE = "generations.json"
CHANGE_COL = "_change_type"  # insert | update | update_partial | delete
# (Iceberg CDC dialect + ES's partial-update bulk op, table.go:143-151)

# Per-index commit lock: generational commits are a read-modify-write of
# generations.json plus a build into the next gen=N directory, so two
# writers interleaving (e.g. index_stream and inline_stream foreachBatch
# THREADS of one driver, each with its own batchId cadence) would both
# compute the same gen_id and clobber each other's output + commit-log
# entry. Structured Streaming runs every foreachBatch in the SAME driver
# process, so a per-index re-entrant thread lock serializes them; a
# SECOND driver writing the same index concurrently is outside the
# engine's contract (same as Lucene's single-IndexWriter rule) and needs
# external coordination.
import threading as _threading

_INDEX_LOCKS: dict[str, _threading.RLock] = {}
_INDEX_LOCKS_GUARD = _threading.Lock()


def _index_write_lock(index_dir: str) -> _threading.RLock:
    key = os.path.abspath(index_dir)
    with _INDEX_LOCKS_GUARD:
        if key not in _INDEX_LOCKS:
            _INDEX_LOCKS[key] = _threading.RLock()
        return _INDEX_LOCKS[key]


def _locked_writer(index_dir_pos: int):
    """Serialize a whole write entry point on the per-index RLock (the
    lock is re-entrant, so apply_inline_updates → add_generation nests)."""
    import functools

    def deco(fn):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            index_dir = kwargs.get("index_dir")
            if index_dir is None and len(args) > index_dir_pos:
                index_dir = args[index_dir_pos]
            with _index_write_lock(str(index_dir)):
                return fn(*args, **kwargs)

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


def _load_gens(index_dir: str) -> list[dict]:
    p = os.path.join(index_dir, GENS_FILE)
    if os.path.exists(p):
        with open(p) as f:
            return json.load(f)
    return []


def _save_gens(index_dir: str, gens: list[dict]) -> None:
    os.makedirs(index_dir, exist_ok=True)
    tmp = os.path.join(index_dir, GENS_FILE + ".tmp")
    with open(tmp, "w") as f:
        json.dump(gens, f, indent=2)
    os.replace(tmp, os.path.join(index_dir, GENS_FILE))


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
        if name in ("gen=0", GENS_FILE, "stats.json") or name.endswith(".tmp"):
            continue
        dst = os.path.join(gen_dir, name)
        if not os.path.exists(dst):
            shutil.move(os.path.join(index_dir, name), dst)
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
    corrupts the index (schema-mismatched segment unions, unqualified terms
    that stop matching fielded queries). Tuning knobs (shuffle width, salt
    thresholds) stay from ``base``. Returns ``base`` unchanged for an empty
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
        store_doclens=bool(st.get("store_doclens", True)),
        store_source=bool(st.get("store_source", False)),
        field_analyzers=tuple(tuple(x) for x in fa) if fa else None,
        k1=float(st.get("k1", cfg.k1)),
        b=float(st.get("b", cfg.b)),
        block_size=int(st.get("block_size", cfg.block_size)),
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

    Unions every generation's docs/ store, keeps each doc_id's
    latest-generation row (last-wins, one ``max(struct(gen, ...))`` partial
    aggregation — no window sort), then drops rows covered by a strictly
    later tombstone (same semantics as ``MultiGenReader._liveness``: a
    generation's own upserts beat its tombstones).

    With ``IndexConfig(store_source=True)`` builds, the view carries every
    input column (content included) — the stored-fields half of Lucene that
    partial updates and fetch-by-id resolve against. Scale shape: one
    shuffle on doc_id over the docs stores (tiny vs segments) plus a
    broadcast of the tombstone set.
    """
    gens = _load_gens(index_dir)
    if not gens and os.path.exists(os.path.join(index_dir, "docs")):
        # plain (non-generational) build_index output = one live generation
        return spark.read.parquet(os.path.join(index_dir, "docs")).drop("doc_idx")
    doc_gens = [g for g in gens if g["dir"]]
    if not doc_gens:
        raise ValueError(f"no document generations in {index_dir}")
    if len(doc_gens) == 1:
        # single live generation: doc_ids are unique within a generation
        # (the build fails fast otherwise), so the last-wins aggregation is
        # an identity — skip its full-store shuffle; the tombstone filter
        # below still applies against this generation's number
        g0 = doc_gens[0]
        one = spark.read.parquet(os.path.join(g0["dir"], "docs"))
        val_cols = [c for c in one.columns if c not in ("doc_id", "doc_idx")]
        picked = one.select(
            "doc_id", F.lit(int(g0["gen"])).alias("_gen"), *val_cols
        )
    else:
        uni = None
        for g in doc_gens:
            part = spark.read.parquet(os.path.join(g["dir"], "docs")).withColumn(
                "_gen", F.lit(int(g["gen"]))
            )
            uni = part if uni is None else uni.unionByName(part, allowMissingColumns=True)
        val_cols = [c for c in uni.columns if c not in ("doc_id", "doc_idx", "_gen")]
        # max_by orders ONLY by _gen and merely carries the value struct — a
        # plain max(struct(_gen, ...)) would try to ORDER by the value columns
        # on ties, which breaks for non-orderable column types (map-kind inline
        # fields); _gen ties are impossible (the build fails fast on duplicate
        # doc_ids within a generation)
        picked = (
            uni.groupBy("doc_id")
            .agg(
                F.max_by(
                    F.struct(*[F.col(c) for c in val_cols]), F.col("_gen")
                ).alias("_s"),
                F.max("_gen").alias("_gen"),
            )
            .select("doc_id", "_gen", "_s.*")
        )
    del_gen: dict[int, int] = {}
    for g in gens:
        for d in g.get("deleted_ids", ()):
            del_gen[int(d)] = max(del_gen.get(int(d), -1), int(g["gen"]))
    if del_gen:
        dels = spark.createDataFrame(
            [(k, v) for k, v in del_gen.items()], "doc_id long, _del_gen long"
        )
        picked = (
            picked.join(F.broadcast(dels), "doc_id", "left")
            .filter(F.col("_del_gen").isNull() | (F.col("_del_gen") <= F.col("_gen")))
            .drop("_del_gen")
        )
    return picked.drop("_gen")


def get_docs(spark, index_dir: str, doc_ids):
    """GET/mget by _id over the stored _source (ES GET API — the endpoint
    the reference's own consistency test polls, consistency_test.go:189-210).
    The id filter sits on a native column of every docs store, so Catalyst
    pushes it through the last-wins aggregate and the generation union into
    each parquet scan (`PushedFilters: [In(doc_id, ...)]` — a point lookup,
    not a table scan)."""
    ids = [int(i) for i in doc_ids]
    return source_view(spark, index_dir).filter(F.col("doc_id").isin(ids))


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
    # a plain build_index output at index_dir becomes generation 0
    # (otherwise this batch would orphan it — see _adopt_plain_index);
    # called unconditionally so a crashed adoption is completed too
    gens = _adopt_plain_index(index_dir)
    # EVERY batch against an existing index must be built with the index's
    # own flags (positions/source/analyzers/k1/b) — ES semantics: settings
    # are fixed at creation. Without this, a plain insert batch with the
    # caller's/default cfg against a fielded or positional index would
    # index unqualified terms (field:term queries silently stop matching
    # new docs) or diverge segment schemas across generations.
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
        gen_dir = None  # delete-only generation: tombstones, no segments
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
    tmp = os.path.join(index_dir, METRICS_FILE + ".tmp")
    with open(tmp, "w") as f:
        json.dump(m, f, indent=2)
    os.replace(tmp, os.path.join(index_dir, METRICS_FILE))
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
    superseded versions vanish — the snapshot is the truth."""
    cfg = cfg or IndexConfig()
    for g in _load_gens(index_dir):
        if g["dir"]:
            shutil.rmtree(g["dir"], ignore_errors=True)
    gen_dir = os.path.join(index_dir, "gen=0")
    stats = build_index(spark, corpus_df, gen_dir, cfg)
    _save_gens(index_dir, [{"gen": 0, "dir": gen_dir, "n_docs": stats["n_docs"],
                            "total_tokens": stats["total_tokens"],
                            "epoch_id": None, "deleted_ids": []}])
    return stats


class LiveDocs:
    """Sparse Lucene-liveDocs: stores only the DEAD slots (sorted int64
    array), so a query node serving a generational shard holds O(superseded
    + tombstoned) driver state instead of an O(corpus) bitmap — at 10^9-10^12
    docs a dense ``np.ones(n_docs)`` is GBs of memory that scales with the
    corpus; this scales with churn. Supports exactly the mask operations
    the scorers use: fancy-index with an int slot array (vectorized
    searchsorted membership), scalar index (WAND's pivot check), ``sum()``
    (live count), and ``astype(bool)`` for the rare dense-mask consumer."""

    __slots__ = ("n", "dead")

    def __init__(self, n: int, dead):
        self.n = int(n)
        self.dead = np.unique(np.asarray(dead, dtype=np.int64))

    def __getitem__(self, idx):
        if isinstance(idx, (int, np.integer)):
            i = int(np.searchsorted(self.dead, idx))
            return not (i < self.dead.size and self.dead[i] == idx)
        idx = np.asarray(idx)
        if self.dead.size == 0:
            return np.ones(idx.shape, dtype=bool)
        pos = np.minimum(np.searchsorted(self.dead, idx), self.dead.size - 1)
        return self.dead[pos] != idx

    def sum(self) -> int:
        return self.n - int(self.dead.size)

    def astype(self, dtype):
        m = np.ones(self.n, dtype=bool)
        m[self.dead] = False
        return m.astype(dtype)

    def drop_dead(self, arr):
        """``arr`` (slot-indexed, len n) without the dead slots — the
        sparse form of ``arr[self.astype(bool)]``: slice-gather around the
        sorted dead array, O(dead) segments, NO dense O(n_docs) mask
        allocation (the r4 verdict's match_all finding)."""
        if self.dead.size == 0:
            return arr
        cuts = np.stack([self.dead, self.dead + 1], axis=1).ravel()
        return np.concatenate(np.split(arr, cuts)[::2])

    def __len__(self) -> int:
        return self.n


class MultiGenReader(IndexReader):
    """IndexReader-compatible facade over a generational index: merged
    stats, last-wins + tombstone liveness (Lucene liveDocs), and BATCHED
    segment access — one Spark job fetches the query terms' blocks across
    ALL generations (union read with `term IN` pushdown per generation
    path), remapping each generation's local doc_idx space onto disjoint
    global slots. Because the interface matches IndexReader, the same
    TermAtATimeScorer and block-max WAND run unchanged over N generations.

    Block-max rescaling: stored per-block max_score was computed with the
    generation-LOCAL idf and avg_dl. The remap converts it to a valid
    GLOBAL upper bound: ms * (idf_glob/idf_g) * max(1, avg_glob/avg_g) —
    the last factor bounds the growth of tf/(tf + k1(1-b+b*dl/avgdl)) when
    avgdl increases, so WAND pruning stays lossless (rank-identity tested).
    """

    def __init__(self, spark, index_dir: str, k1: float = 1.2, b: float = 0.75,
                 shard_range: tuple[int, int] | None = None):
        self.spark = spark
        self.index_dir = index_dir
        self.gens = _load_gens(index_dir)
        if not self.gens:
            raise FileNotFoundError(f"no generations at {index_dir}")
        self.live_gens = [g for g in self.gens if g["dir"]]
        self.k1, self.b = k1, b
        self.n_docs = int(sum(g["n_docs"] for g in self.gens))
        total_tokens = sum(g["total_tokens"] for g in self.gens)
        self.avg_dl = total_tokens / self.n_docs if self.n_docs else 0.0
        # slot base per live generation (docs concatenate in gen order)
        self.bases = {}
        acc = 0
        for g in self.live_gens:
            self.bases[g["gen"]] = acc
            acc += g["n_docs"]
        # per-gen local stats for block-max rescale
        self._gen_stats = {
            g["gen"]: (g["n_docs"], (g["total_tokens"] / g["n_docs"]) if g["n_docs"] else 0.0)
            for g in self.live_gens
        }
        # doc-sharded serving over the merged SLOT space (gen-concatenated
        # doc_idx): this reader holds only slots in [lo, hi) — same
        # contract as IndexReader.shard_range; global stats stay global.
        self.shard_range = shard_range
        self._doc_len = None
        self._doc_ids = None
        self._seg_df = None
        self._pinned = None
        self._live_cache: LiveDocs | None = None
        self._dict_df: dict[str, int] | None = None

    def _gen_slot_filter(self, g):
        """Per-generation doc_idx predicate for this shard (slot = doc_idx
        + gen base), or None when the whole generation is in range."""
        if self.shard_range is None:
            return None
        lo, hi = self.shard_range
        base = self.bases[g["gen"]]
        return max(0, lo - base), min(int(g["n_docs"]), hi - base)

    @property
    def _live(self) -> LiveDocs:
        """Lazy sparse liveDocs — computed on first use, so constructing a
        reader for the distributed query path (which resolves liveness as
        an anti-join, not a mask) costs no doc-store load at all."""
        if self._live_cache is None:
            full = self._liveness()
            if self.shard_range is not None:
                # shard-local liveDocs: dead slots inside [lo, hi), rebased
                lo, hi = self.shard_range
                d = full.dead
                local = d[(d >= lo) & (d < hi)] - lo
                full = LiveDocs(hi - lo, local)
            self._live_cache = full
        return self._live_cache

    # --- merged doc store (ONE Spark action over all generations) ---
    def doc_arrays(self):
        if self._doc_len is None:
            parts = []
            for g in self.live_gens:
                df = (
                    self.spark.read.parquet(os.path.join(g["dir"], "docs"))
                    .select("doc_idx", "doc_id", "doc_len")
                    .withColumn("gen", F.lit(g["gen"]))
                )
                rng = self._gen_slot_filter(g)
                if rng is not None:
                    glo, ghi = rng
                    if glo >= ghi:
                        continue  # generation entirely outside this shard
                    df = df.filter(
                        (F.col("doc_idx") >= glo) & (F.col("doc_idx") < ghi)
                    )
                parts.append(df)
            if not parts:
                self._doc_len = np.empty(0, np.float64)
                self._doc_ids = np.empty(0, np.int64)
                return self._doc_len, self._doc_ids
            uni = parts[0]
            for p in parts[1:]:
                uni = uni.unionByName(p)
            pdf = uni.toPandas()
            pdf["slot"] = pdf["doc_idx"] + pdf["gen"].map(self.bases)
            pdf = pdf.sort_values("slot")
            self._doc_len = pdf["doc_len"].to_numpy(np.float64)
            self._doc_ids = pdf["doc_id"].to_numpy(np.int64)
        return self._doc_len, self._doc_ids

    def _liveness(self) -> LiveDocs:
        """Sparse liveDocs: a slot is dead if its doc_id re-appears in a
        later generation (last-wins) or a tombstone at a strictly later
        generation covers it (a generation's own upserts beat its
        tombstones — delete+insert of one key in one batch nets to the
        insert, reference P12 key-change semantics, table.go:66-86).

        Computed DISTRIBUTIVELY: a window over the unioned doc stores (and
        a broadcast tombstone join) ships only the DEAD slots back —
        O(superseded + tombstoned) driver state, never an O(corpus) bitmap.
        Single-live-generation fast path (the post-merge steady state):
        no duplicates are possible, so liveness is at most a point-lookup
        of the tombstoned ids."""
        del_gen: dict[int, int] = {}
        for g in self.gens:
            for d in g.get("deleted_ids", ()):
                del_gen[int(d)] = max(del_gen.get(int(d), -1), int(g["gen"]))

        if len(self.live_gens) == 1:
            g0 = self.live_gens[0]
            victims = [d for d, t in del_gen.items() if t > g0["gen"]]
            if not victims:
                return LiveDocs(self.n_docs, np.empty(0, np.int64))
            base = self.bases[g0["gen"]]
            rows = (
                self.spark.read.parquet(os.path.join(g0["dir"], "docs"))
                .filter(F.col("doc_id").isin(victims))
                .select("doc_idx")
                .collect()
            )
            return LiveDocs(self.n_docs, [int(r["doc_idx"]) + base for r in rows])

        from pyspark.sql.window import Window as W

        parts = [
            self.spark.read.parquet(os.path.join(g["dir"], "docs")).select(
                "doc_id",
                (F.col("doc_idx") + F.lit(self.bases[g["gen"]])).alias("slot"),
                F.lit(int(g["gen"])).alias("gen"),
            )
            for g in self.live_gens
        ]
        uni = parts[0]
        for p in parts[1:]:
            uni = uni.unionByName(p)
        w = W.partitionBy("doc_id").orderBy(F.col("gen").desc())
        dead = (
            uni.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") > 1)
            .select("slot")
        )
        if del_gen:
            dels = self.spark.createDataFrame(
                [(k, v) for k, v in del_gen.items()], "doc_id long, _del_gen long"
            )
            tomb = (
                uni.join(F.broadcast(dels), "doc_id")
                .filter(F.col("_del_gen") > F.col("gen"))
                .select("slot")
            )
            dead = dead.unionByName(tomb)
        dead_arr = [int(r["slot"]) for r in dead.distinct().collect()]
        return LiveDocs(self.n_docs, dead_arr)

    # --- batched segment access across generations ---
    # IndexReader's pin/fetch run unchanged over the hooks below. They are
    # bound here as well so that each reader class owns its entry points:
    # perfbench/spans.py wraps them per class, and a call through a
    # subclass override would be traced twice.
    pin_driver = IndexReader.pin_driver
    fetch_blocks = IndexReader.fetch_blocks

    def _segment_scan(self, positions: bool, terms: list[str] | None = None):
        """ONE union scan over every live generation's segments (with a
        ``gen`` column), `term IN` pushed down per generation path when
        ``terms`` is given; None when no generation overlaps this shard. A
        shard-scoped reader reads only blocks overlapping its slot range —
        the per-node memory contract of doc-sharded serving."""
        parts = []
        for g in self.live_gens:
            seg = self.spark.read.parquet(os.path.join(g["dir"], "segments"))
            q = seg if terms is None else seg.filter(F.col("term").isin(list(set(terms))))
            rng = self._gen_slot_filter(g)
            if rng is not None:
                glo, ghi = rng
                if glo >= ghi:
                    continue
                # block-range pruning per generation (gen-local doc_idx)
                q = q.filter(
                    (F.col("last_doc_idx") >= glo) & (F.col("first_doc_idx") < ghi)
                )
            cols = list(self.META_COLS) + (list(self.POS_COLS) if positions else [])
            parts.append(
                q.select(*[c for c in cols if c in seg.columns])
                .withColumn("gen", F.lit(g["gen"]))
            )
        if not parts:
            return None
        uni = parts[0]
        for p in parts[1:]:
            uni = uni.unionByName(p)
        return uni

    def _block_store(self, scan, positions: bool) -> BlockStore:
        if scan is None:
            return BlockStore(pa.table({"term": pa.array([], pa.string())}), positions)
        table = scan.toArrow().sort_by(
            [("term", "ascending"), ("gen", "ascending"), ("block_id", "ascending")]
        )
        store = BlockStore(table, positions)
        self._remap_blocks(store)
        return store

    def _remap_blocks(self, store: BlockStore) -> None:
        """Remap a (term, gen, block)-sorted multi-gen store onto global
        slots, once, in place: shift block ranges by the gen base (kept as
        ``doc_off`` for the decode), renumber block_id into one per-term
        sequence, rescale max_score to a global upper bound."""
        c = store.cols
        gen = c.pop("gen", None)
        if gen is None or gen.size == 0:
            return
        gids = np.array(sorted(self._gen_stats), dtype=np.int64)
        at = np.searchsorted(gids, gen)
        doc_off = np.array([self.bases[g] for g in gids.tolist()], np.int64)[at]
        n_g = np.array([self._gen_stats[g][0] for g in gids.tolist()], np.int64)[at]
        avg_g = np.array([self._gen_stats[g][1] for g in gids.tolist()], np.float64)[at]
        n = c["n"]
        lens = store.term_ends - store.term_starts
        term_of = np.repeat(np.arange(lens.size), lens)
        if self.shard_range is None:
            # local df per (term, gen) = sum of block n; global df = sum over gens
            run = np.flatnonzero((np.diff(term_of) != 0) | (np.diff(gen) != 0)) + 1
            run = np.concatenate(([0], run))
            grp = np.repeat(np.add.reduceat(n, run), np.diff(np.append(run, n.size)))
            df_glob = np.repeat(np.add.reduceat(n, store.term_starts), lens)
        else:
            # a shard holds only some of a term's blocks, so their n sums
            # undercount both dfs: the scorers' global df comes from the
            # dictionary, and a gen's df is at most min(global df, n_g) —
            # idf falls as df grows, so the rescaled bound stays an upper bound
            dict_df = self._dictionary_dfs()
            df_glob = np.repeat(np.array([dict_df.get(t, 0) for t in store.index], np.int64), lens)
            grp = np.minimum(df_glob, n_g)
        idf_g = np.log(1.0 + (n_g - grp + 0.5) / (grp + 0.5))
        idf_glob = np.log(1.0 + (self.n_docs - df_glob + 0.5) / (df_glob + 0.5))
        stretch = np.maximum(1.0, self.avg_dl / np.where(avg_g > 0, avg_g, self.avg_dl))
        c["doc_off"] = doc_off
        c["first_doc_idx"] = c["first_doc_idx"] + doc_off
        c["last_doc_idx"] = c["last_doc_idx"] + doc_off
        # 1+1e-12: keep the bound an upper bound under float rounding
        c["max_score"] = c["max_score"] / idf_g * idf_glob * stretch * (1.0 + 1e-12)
        c["block_id"] = np.arange(n.size, dtype=np.int64) - np.repeat(store.term_starts, lens)

    def expand_prefix(self, prefix: str, max_expansions: int | None = 50,
                      extra_filter=None):
        """Prefix expansion over the UNION of per-generation dictionaries
        (a generational index has no top-level dict) — same pushed-down
        range seek per generation (+ optional extra predicate, see
        IndexReader.expand_prefix), distinct, term order, capped."""
        from search_replica_spark.query.bm25 import prefix_range_cond

        def one(g):
            q = (
                self.spark.read.parquet(os.path.join(g["dir"], "dict"))
                .filter(prefix_range_cond(prefix))
                .filter(F.col("term").startswith(prefix))
            )
            if extra_filter is not None:
                q = q.filter(extra_filter)
            return q.select("term")

        parts = [one(g) for g in self.live_gens]
        uni = parts[0]
        for p in parts[1:]:
            uni = uni.unionByName(p)
        q = uni.distinct().orderBy("term")
        if max_expansions is not None:
            q = q.limit(max_expansions)
        return [row["term"] for row in q.collect()]

    # --- per-field norms over generations ---
    def field_stats(self) -> dict | None:
        """Merged per-field stats: docCounts and token sums accumulate as
        INTEGERS over live generations, with one final float division —
        bit-identical to the avg a single-index build over the same live
        docs computes (recombining n*avg floats would round twice). None
        if any live generation predates per-field builds (uniform flags
        are already enforced by derive_index_cfg/merge). Legacy stats
        without sum_dl fall back to n*avg."""
        acc: dict[str, list] = {}
        for g in self.live_gens:
            with open(os.path.join(g["dir"], "stats.json")) as f:
                fs = json.load(f).get("field_stats")
            if not fs:
                return None
            for fld, st in fs.items():
                n, s = acc.get(fld, (0, 0))
                gn = int(st["n"])
                gs = st.get("sum_dl")
                gs = int(gs) if gs is not None else gn * float(st["avg_dl"])
                acc[fld] = [n + gn, s + gs]
        return {
            fld: {"n": int(n), "avg_dl": (s / n) if n else 0.0}
            for fld, (n, s) in acc.items()
        }

    def field_dl_arrays(self, fields: list[str]):
        """Per-slot per-field doc lengths across ALL generations: one
        union read of the dl_<field> columns, ordered onto global slots
        (same layout rule as doc_arrays)."""
        cols = [f"dl_{f}" for f in fields]
        parts = [
            self.spark.read.parquet(os.path.join(g["dir"], "docs"))
            .select(
                (F.col("doc_idx") + F.lit(self.bases[g["gen"]])).alias("slot"), *cols
            )
            for g in self.live_gens
        ]
        uni = parts[0]
        for p in parts[1:]:
            uni = uni.unionByName(p)
        pdf = uni.toPandas().sort_values("slot")
        return {f: pdf[f"dl_{f}"].to_numpy(np.float64) for f in fields}

    # --- query API (same scorers as a single-generation index) ---
    def score(self, query: str, k: int = 10, mode: str = "or"):
        return TermAtATimeScorer(self).score(query, k, mode=mode, live=self._live)

    def wand(self, query: str, k: int = 10, stats: dict | None = None):
        return wand_topk(self, query, k, stats=stats, live=self._live)

    def __len__(self):  # docs currently visible
        return int(self._live.sum())


@_locked_writer(1)
def merge_generations(spark, index_dir: str, cfg: IndexConfig | None = None) -> dict:
    """Lucene-style SEGMENT MERGE: collapse all generations into one WITHOUT
    touching the source table. ``compact()`` re-reads and re-tokenizes the
    snapshot (the reference's only option — a full reindex,
    postgres/reindex.go); a merge instead rebuilds purely from index data:
    decode every generation's postings (term, local doc_idx, tf, doc_len),
    resolve liveness (last-wins + tombstones), reassign dense doc_idx over
    the LIVE docs, and re-run the standard segment/finalize build stages on
    the result. Statistics (N, avgdl, df, block maxima) come out computed
    over live docs only — exactly what a Lucene merge does to purge
    tombstones. Fully distributed: the only driver state is O(P) offsets.
    """
    import time as _time

    import pandas as pd

    from search_replica_spark.index.build import (
        _stage_finalize,
        _stage_segments,
        assign_dense_doc_idx,
    )
    from search_replica_spark.index.codec import delta_decode, varint_decode

    t0 = _time.time()
    # derive EVERY build flag from the index itself (field_analyzers
    # included — the merged generation must keep qualifying terms and
    # regenerating per-field stats); the positions/source cross-checks
    # below still validate generation uniformity
    cfg = derive_index_cfg(index_dir, cfg)
    gens = _load_gens(index_dir)
    live_gens = [g for g in gens if g["dir"]]
    if not live_gens:
        raise FileNotFoundError(f"no segment generations at {index_dir}")

    # a merge must preserve what the generations actually stored, regardless
    # of the cfg handed in: a positional index silently losing its positions
    # (phrase queries break after merge) is never acceptable, and a
    # non-positional one cannot invent them. Derive store_positions from the
    # generations' own stats and fail fast on a mixed set.
    import dataclasses

    gen_pos, gen_src = set(), set()
    for g in live_gens:
        with open(os.path.join(g["dir"], "stats.json")) as f:
            gst = json.load(f)
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
    bases, acc = {}, 0
    for g in live_gens:
        bases[g["gen"]] = acc
        acc += g["n_docs"]

    def union_all(dfs):
        out = dfs[0]
        for d in dfs[1:]:
            out = out.unionByName(d)
        return out

    docs_u = union_all(
        [
            spark.read.parquet(os.path.join(g["dir"], "docs"))
            .withColumn("slot", F.col("doc_idx") + F.lit(bases[g["gen"]]))
            .withColumn("gen", F.lit(g["gen"]))
            for g in live_gens
        ]
    )
    latest = docs_u.groupBy("doc_id").agg(F.max("gen").alias("max_gen"))
    live = docs_u.join(latest, "doc_id").filter(F.col("gen") == F.col("max_gen"))
    tomb_rows = [(int(d), g["gen"]) for g in gens for d in g.get("deleted_ids", ())]
    if tomb_rows:
        tombs = spark.createDataFrame(tomb_rows, "doc_id long, del_gen int")
        tmax = tombs.groupBy("doc_id").agg(F.max("del_gen").alias("del_gen"))
        live = live.join(F.broadcast(tmax), "doc_id", "left").filter(
            F.col("del_gen").isNull() | (F.col("del_gen") <= F.col("gen"))
        )
    # keep every column the docs stores carry (store_source rides through)
    meta_cols = [
        c for c in docs_u.columns if c not in ("doc_idx", "slot", "gen", "max_gen")
    ]
    live = live.select("slot", *meta_cols)
    if live.isEmpty():
        raise ValueError("merge would produce an empty index (everything deleted)")

    out = os.path.join(index_dir, "gen=__merging")
    shutil.rmtree(out, ignore_errors=True)
    # the dense assign's output is already range-partitioned and sorted in
    # doc_idx order — write_to persists it directly (no second shuffle) and
    # releases the internal cache
    assign_dense_doc_idx(
        live.select(*meta_cols), cfg.shuffle_partitions,
        write_to=os.path.join(out, "docs"),
    )

    pos_cols = ["npos_bin", "pos_bin"] if has_positions else []
    seg = union_all(
        [
            spark.read.parquet(os.path.join(g["dir"], "segments"))
            .select("term", "docs_bin", "tfs_bin", *pos_cols,
                    F.lit(bases[g["gen"]]).alias("doc_off"))
            for g in live_gens
        ]
    )

    def decode(batches):
        from search_replica_spark.index.codec import decode_position_lists

        for pdf in batches:
            if pdf.empty:
                continue
            parts = []
            for row in pdf.itertuples(index=False):
                blk = pd.DataFrame({
                    "term": row.term,
                    "slot": delta_decode(row.docs_bin).astype("int64") + int(row.doc_off),
                    "tf": varint_decode(row.tfs_bin).astype("int64"),
                })
                if has_positions:
                    # re-emit per-posting absolute positions so the standard
                    # segment stage re-encodes them over the merged doc space
                    blk["positions"] = decode_position_lists(row.npos_bin, row.pos_bin)
                parts.append(blk)
            yield pd.concat(parts, ignore_index=True)

    post_schema = "term string, slot long, tf long" + (
        ", positions array<long>" if has_positions else ""
    )
    posts = seg.mapInPandas(decode, schema=post_schema)
    live_map = live.select("slot", "doc_id")
    merged = posts.join(live_map, "slot").select(
        "doc_id", "term", "tf", *(["positions"] if has_positions else [])
    )
    merged.write.mode("overwrite").parquet(os.path.join(out, "postings"))

    core = _stage_segments(spark, out, cfg)
    stats = _stage_finalize(spark, out, cfg, core, t0)

    # epoch watermarks survive the merge so an at-least-once replay of a
    # pre-merge epoch stays a no-op (exactly-once across merges); folded
    # PER SOURCE STREAM — index_stream ("main") and inline_stream
    # ("inline") have independent batchId counters (see add_generation)
    max_eps = _fold_epochs(gens)
    for g in live_gens:
        shutil.rmtree(g["dir"], ignore_errors=True)
    final_dir = os.path.join(index_dir, "gen=0")
    shutil.rmtree(final_dir, ignore_errors=True)
    os.rename(out, final_dir)
    _save_gens(index_dir, [{"gen": 0, "dir": final_dir, "n_docs": stats["n_docs"],
                            "total_tokens": stats["total_tokens"],
                            "epoch_id": None, "deleted_ids": [],
                            "max_epoch": max_eps.get("main"),
                            **({"max_epochs": max_eps} if max_eps else {})}])
    return stats


def bm25_topk_spark_multigen(spark, index_dir: str, query: str, k: int = 10,
                             mode: str = "or"):
    """Fully DISTRIBUTED BM25 over a generational index — the third strategy
    (bm25_topk_spark) extended across generations. Everything is DataFrame
    ops: per-generation term-IN-pruned segment scans union'd, Arrow decode
    with per-generation slot offsets, merged-df idf broadcast, and LIVENESS
    as a distributed anti-join (a slot is dead if its doc_id re-appears in a
    later generation, or a strictly-later tombstone covers it) — no driver
    array of corpus size anywhere, unlike MultiGenReader's pinned-shard
    arrays. The liveness join is the one cost a generational index cannot
    avoid (Lucene pays it as per-segment liveDocs bitmaps); AQE broadcasts
    the matched-slot side for selective queries, and compaction bounds it.
    """
    import pandas as pd

    from search_replica_spark.index.codec import delta_decode, varint_decode

    gens = _load_gens(index_dir)
    if not gens:
        raise FileNotFoundError(f"no generations at {index_dir}")
    live_gens = [g for g in gens if g["dir"]]
    n_docs = int(sum(g["n_docs"] for g in gens))
    total_tokens = sum(g["total_tokens"] for g in gens)
    avg_dl = total_tokens / n_docs if n_docs else 0.0
    bases, acc = {}, 0
    for g in live_gens:
        bases[g["gen"]] = acc
        acc += g["n_docs"]
    with open(os.path.join(live_gens[0]["dir"], "stats.json")) as f:
        gstats = json.load(f)
    k1, b = gstats["k1"], gstats["b"]
    terms = sorted(set(tokenize_text(query)))
    if not terms or not live_gens:
        return spark.createDataFrame([], "doc_id long, score double")

    def union_all(dfs):
        out = dfs[0]
        for d in dfs[1:]:
            out = out.unionByName(d)
        return out

    seg = union_all(
        [
            spark.read.parquet(os.path.join(g["dir"], "segments"))
            .filter(F.col("term").isin(terms))
            .select(
                "term", "n", "docs_bin", "tfs_bin", "dls_bin",
                F.lit(bases[g["gen"]]).alias("doc_off"),
            )
            for g in live_gens
        ]
    )
    dic = (
        union_all(
            [
                spark.read.parquet(os.path.join(g["dir"], "dict"))
                .filter(F.col("term").isin(terms))
                for g in live_gens
            ]
        )
        .groupBy("term")
        .agg(F.sum("df").alias("df"))
        .withColumn(
            "idf",
            F.log(F.lit(1.0) + (F.lit(float(n_docs)) - F.col("df") + 0.5) / (F.col("df") + 0.5)),
        )
    )

    def decode(batches):
        from search_replica_spark.index.codec import decode_doc_blocks

        # one vectorized pass per Arrow batch; per-block doc_off (each
        # generation's slot base) rides through decode_doc_blocks
        for pdf in batches:
            if pdf.empty:
                continue
            counts = pdf["n"].to_numpy("int64")
            yield pd.DataFrame({
                "term": np.repeat(pdf["term"].to_numpy(object), counts),
                "slot": decode_doc_blocks(
                    list(pdf["docs_bin"]), counts, pdf["doc_off"].to_numpy("int64")
                ),
                "tf": varint_decode(b"".join(pdf["tfs_bin"])).astype("int64"),
                "doc_len": varint_decode(b"".join(pdf["dls_bin"])).astype("int64"),
            })

    posts = seg.mapInPandas(decode, schema="term string, slot long, tf long, doc_len long")
    scored = posts.join(F.broadcast(dic.select("term", "idf")), "term").withColumn(
        "score",
        F.col("idf") * F.col("tf")
        / (F.col("tf") + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * F.col("doc_len") / F.lit(avg_dl))),
    )
    agg = scored.groupBy("slot").agg(F.sum("score").alias("score"), F.count("*").alias("_nm"))
    if mode == "and":
        agg = agg.filter(F.col("_nm") == len(terms))
    agg = agg.drop("_nm")

    # distributed liveness: slot -> (doc_id, gen); latest gen per doc wins,
    # strictly-later tombstones kill older slots
    docs_u = union_all(
        [
            spark.read.parquet(os.path.join(g["dir"], "docs"))
            .select(
                (F.col("doc_idx") + F.lit(bases[g["gen"]])).alias("slot"),
                "doc_id",
                F.lit(g["gen"]).alias("gen"),
            )
            for g in live_gens
        ]
    )
    tomb_rows = [
        (int(d), g["gen"]) for g in gens for d in g.get("deleted_ids", ())
    ]
    latest = docs_u.groupBy("doc_id").agg(F.max("gen").alias("max_gen"))
    live_docs = docs_u.join(latest, "doc_id").filter(F.col("gen") == F.col("max_gen"))
    if tomb_rows:
        tombs = spark.createDataFrame(tomb_rows, "doc_id long, del_gen int")
        tmax = tombs.groupBy("doc_id").agg(F.max("del_gen").alias("del_gen"))
        live_docs = live_docs.join(F.broadcast(tmax), "doc_id", "left").filter(
            F.col("del_gen").isNull() | (F.col("del_gen") <= F.col("gen"))
        )
    cand = agg.join(live_docs.select("slot", "doc_id"), "slot")
    return (
        cand.select("doc_id", "score")
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(k)
    )


# retained for callers that tokenized via this module
__all__ = [
    "MultiGenReader",
    "add_generation",
    "bm25_topk_spark_multigen",
    "compact",
    "derive_index_cfg",
    "get_docs",
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

    Shape: matching runs on the serving reader (MultiGenReader for
    generational indexes — its liveness already hides earlier deletes);
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
    reader = MultiGenReader(spark, index_dir)
    n = int(reader.doc_arrays()[0].size) or 1
    if isinstance(query, dict):
        from search_replica_spark.query.dsl import execute_dsl

        hits = execute_dsl(reader, query, k=n)
    else:
        hits = TermAtATimeScorer(reader).score(
            str(query), n, live=getattr(reader, "_live", None)
        )
    ids = [int(d) for d, _s in hits]
    if not ids:
        return {"deleted": 0, "n_docs": 0, "total_tokens": 0}
    keys = (
        get_docs(spark, index_dir, ids)
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
    reader = MultiGenReader(spark, index_dir)
    n = int(reader.doc_arrays()[0].size) or 1
    if isinstance(query, dict):
        from search_replica_spark.query.dsl import execute_dsl

        hits = execute_dsl(reader, query, k=n)
    else:
        hits = TermAtATimeScorer(reader).score(
            str(query), n, live=getattr(reader, "_live", None)
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
