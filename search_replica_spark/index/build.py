"""Distributed inverted-index build: corpus → compressed posting segments.

Spark-first re-expression of the reference's entire indexing dataflow
(reference: postgres/reindex.go:29-91 snapshot scan → postgres/table.go
row→doc transform → search/bulk.go batched sink) PLUS the index construction
the reference delegates to Elasticsearch/Lucene.

Pipeline (manifest-checkpointed stages, two shuffles):

  stage "docmap":
    read parquet (pruned to repo,path,content — Catalyst pushes projection)
      → doc_id/sha256 columns (JVM-side sha2/conv expressions)
      → mapInPandas tokenize+count    (Arrow batches, no per-row Python)
      → write postings/               (stage checkpoint intermediate)
      → shuffle #1: groupBy doc_id    (doc lengths; dense doc_idx two-pass)
      → write docs/
  stage "segments":
    read postings/ + docs/ back
      → dict/ (term → df)
      → shuffle #2: groupBy (term,salt)  (hot terms salted by doc_idx range
                                          so blocks stay globally docID-sorted)
      → applyInPandas block encode    (NumPy delta+varint, per-block max score)
      → segments/ hash-partitioned + in-file sorted by term (row-group
        pruning makes query-time `term IN (...)` an index seek, not a scan)
  stage "finalize":
    per-partition lineage table (lineage/) + stats.json, drop intermediates.

Resume: re-running build_index on the same out_dir with the same input
fingerprint skips completed stages (reference analogue: LSN commit/resume,
search/bulk.go:345-347, main.go:164-165). Within a stage, per-partition
recovery is Spark task retry over idempotent overwrite-mode writes.

Scale notes (100 TB design): both shuffles key on high-cardinality columns
(doc_id, term); the only broadcast is the hot-term df table (tiny by
construction). Dense doc_idx assignment is the standard two-pass
partition-offset trick — O(P) driver state, no global-sort bottleneck.
"""

from __future__ import annotations

import json
import os
import shutil
import time

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from search_replica_spark.analysis.tokenizer import tokenize_flat
from search_replica_spark.config import IndexConfig
from search_replica_spark.index.codec import encode_postings_blocks
from search_replica_spark.index.manifest import Manifest, input_fingerprint, write_durable

SEGMENT_SCHEMA = (
    "term string, block_id int, n int, first_doc_idx long, last_doc_idx long, "
    "max_score double, docs_bin binary, tfs_bin binary, dls_bin binary, "
    "npos_bin binary, pos_bin binary"
)  # dls_bin: per-posting doc_len varints — scoring never joins the docs table
# npos_bin/pos_bin: optional token positions (store_positions) for phrase queries


def with_doc_ids(df: DataFrame) -> DataFrame:
    """Derived identity columns, all JVM-side expressions.

    doc_id: 60-bit int from sha256(repo \\x00 path) — the engine's analogue of
    the reference's ``_id = {table}_{pk}`` (postgres/table.go:119-128), chosen
    so the pure-Python oracle can reproduce it bit-for-bit (oracle.doc_id_of).
    content_sha256: the per-row invariant column (BASELINE.json#input_hint).
    """
    key = F.concat_ws("\x00", F.col("repo"), F.col("path"))
    return df.withColumn(
        "doc_id", F.conv(F.substring(F.sha2(key, 256), 1, 15), 16, 10).cast("long")
    ).withColumn("content_sha256", F.sha2(F.col("content"), 256))


def tokenize_counts_jvm(
    docs: DataFrame,
    with_positions: bool = False,
    field_analyzers: tuple[tuple[str, str], ...] | None = None,
) -> DataFrame:
    """(doc_id, content) → (doc_id, term, tf[, positions]), entirely inside
    whole-stage codegen: regexp_extract_all + lower + explode + partial-agg
    groupBy. Identical analysis to the Arrow path (same TOKEN_PATTERN;
    tested), but no JVM→Python transfer of the raw content — on a
    shared-memory box the Arrow copy is what stops tokenization scaling
    past ~8 cores. ``with_positions`` adds each posting's sorted token
    positions (the analyzed token index — Lucene .prx semantics).

    ``field_analyzers``: per-field mapping (ES mapping parity — see
    analysis/fields.py). Terms come out qualified as ``field:term``;
    positions are per-field (each field is its own position space, like
    Lucene's per-field .prx)."""
    from search_replica_spark.analysis.tokenizer import TOKEN_PATTERN

    if field_analyzers is not None:
        from search_replica_spark.analysis.fields import field_tokens

        parts = []
        for fld, kind in field_analyzers:
            toks = field_tokens(fld, kind)
            qual = F.concat(F.lit(fld + ":"), F.col("t")).alias("term")
            if with_positions:
                ex = docs.select("doc_id", F.posexplode(toks).alias("pos", "t"))
                parts.append(ex.select("doc_id", "pos", qual))
            else:
                ex = docs.select("doc_id", F.explode(toks).alias("t"))
                parts.append(ex.select("doc_id", qual))
        ex = parts[0]
        for p in parts[1:]:
            ex = ex.unionByName(p)
        aggs = [F.count("*").alias("tf")]
        if with_positions:
            aggs.append(F.sort_array(F.collect_list("pos")).alias("positions"))
        return ex.groupBy("doc_id", "term").agg(*aggs)

    toks = F.regexp_extract_all(F.col("content"), F.lit(TOKEN_PATTERN), 0)
    if not with_positions:
        ex = docs.select("doc_id", F.explode(toks).alias("t"))
        return ex.select("doc_id", F.lower(F.col("t")).alias("term")).groupBy(
            "doc_id", "term"
        ).agg(F.count("*").alias("tf"))
    ex = docs.select("doc_id", F.posexplode(toks).alias("pos", "t"))
    return (
        ex.select("doc_id", "pos", F.lower(F.col("t")).alias("term"))
        .groupBy("doc_id", "term")
        .agg(
            F.count("*").alias("tf"),
            F.sort_array(F.collect_list("pos")).alias("positions"),
        )
    )


def tokenize_counts(docs: DataFrame) -> DataFrame:
    """(doc_id, content) → (doc_id, term, tf) via Arrow-batched pandas."""

    empty = pd.DataFrame(
        {
            "doc_id": pd.Series(dtype="int64"),
            "term": pd.Series(dtype="object"),
            "tf": pd.Series(dtype="int64"),
        }
    )

    def fn(batches):
        for pdf in batches:
            lens, flat = tokenize_flat(pdf["content"])
            if flat.size == 0:
                yield empty
                continue
            # factorize-based (doc, term) counting — ~2× faster than
            # DataFrame.explode + groupby at this batch size
            codes, uniq = pd.factorize(flat, sort=False)
            doc_pos = np.arange(len(pdf), dtype=np.int64).repeat(lens)
            key = doc_pos * np.int64(len(uniq)) + codes
            kk, counts = np.unique(key, return_counts=True)
            doc_ids = pdf["doc_id"].to_numpy(np.int64)
            yield pd.DataFrame(
                {
                    "doc_id": doc_ids[kk // len(uniq)],
                    "term": np.asarray(uniq, dtype=object)[kk % len(uniq)],
                    "tf": counts.astype(np.int64),
                }
            )

    return docs.select("doc_id", "content").mapInPandas(
        fn, schema="doc_id long, term string, tf long"
    )


def assign_dense_doc_idx(
    doc_stats: DataFrame,
    partitions: int,
    stats_out: dict | None = None,
    write_to: str | None = None,
    drop_cols: tuple[str, ...] = (),
) -> DataFrame | None:
    """doc_id → dense ordinal doc_idx (0..N-1 in doc_id order), scalably.

    Two-pass partition-offset pattern: range-partition by doc_id, count rows
    per partition (tiny collect, O(P)), then assign offset + local arange in
    a second pass. No single-partition Window sort. The input is cached so
    both passes see the identical (sampled) range partitioning.

    ``stats_out``: piggyback global sums on the (already-paid) per-partition
    count collect — fills n_docs plus sum_<col> for any of (doc_len, _nt)
    present, so callers skip their own aggregation job over the result.
    ``write_to``: write the mapped output directly to parquet. The mapInPandas
    output is already range-partitioned and sorted by doc_id — and doc_idx is
    assigned in doc_id order — so the write preserves a doc_idx-sorted,
    range-partitioned layout WITHOUT the extra repartitionByRange shuffle
    (and its sampling re-execution) callers used to pay. Unpersists the
    internal cache and returns None.
    """
    ds = (
        doc_stats.repartitionByRange(partitions, "doc_id")
        .sortWithinPartitions("doc_id")
        .withColumn("_pid", F.spark_partition_id())
        .cache()
    )
    sum_cols = [
        c for c in ("doc_len", "_nt") if stats_out is not None and c in doc_stats.columns
    ]
    aggs = [F.count("*").alias("cnt")] + [F.sum(c).alias(f"s_{c}") for c in sum_cols]
    rows = ds.groupBy("_pid").agg(*aggs).collect()
    counts = {r["_pid"]: r["cnt"] for r in rows}
    if stats_out is not None:
        stats_out["n_docs"] = int(sum(counts.values()))
        for c in sum_cols:
            stats_out[f"sum_{c}"] = int(sum(int(r[f"s_{c}"] or 0) for r in rows))
    offsets = {}
    acc = 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]

    def fn(batches):
        local = -1
        seen = 0
        for pdf in batches:
            if local < 0 and len(pdf):
                local = offsets[int(pdf["_pid"].iloc[0])]
            out = pdf.drop(columns=["_pid"])
            out["doc_idx"] = np.arange(local + seen, local + seen + len(pdf), dtype=np.int64)
            seen += len(pdf)
            yield out

    cols = [c for c in doc_stats.columns if c not in drop_cols]
    schema = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in doc_stats.schema.fields)
    out = ds.mapInPandas(fn, schema=f"{schema}, doc_idx long").select(*cols, "doc_idx")
    if write_to is not None:
        out.write.mode("overwrite").parquet(write_to)
        ds.unpersist()
        return None
    return out


def _encode_blocks_fn(n_docs: int, avg_dl: float, cfg: IndexConfig):
    """applyInPandas group encoder: one (term, salt) group → segment rows."""
    k1, b, bs, range_docs = cfg.k1, cfg.b, cfg.block_size, cfg.salt_range_docs
    store_dl = cfg.store_doclens
    store_pos = cfg.store_positions
    blocks_per_range = max(1, range_docs // bs)
    import math

    def fn(key, pdf: pd.DataFrame):
        term, salt = key
        df_t = int(pdf["df_hot"].iloc[0]) if pd.notna(pdf["df_hot"].iloc[0]) else len(pdf)
        idf = math.log(1.0 + (n_docs - df_t + 0.5) / (df_t + 0.5))
        pdf = pdf.sort_values("doc_idx")
        doc_idx = pdf["doc_idx"].to_numpy(np.int64)
        tf = pdf["tf"].to_numpy(np.int64)
        dl = pdf["doc_len"].to_numpy(np.float64)
        score = idf * (tf / (tf + k1 * (1.0 - b + b * dl / avg_dl)))
        base_block = int(salt) * blocks_per_range
        if store_dl:
            blocks = encode_postings_blocks(doc_idx, tf, score, bs, dl=dl.astype(np.int64))
        else:
            blocks = [(*blk, b"") for blk in encode_postings_blocks(doc_idx, tf, score, bs)]
        if store_pos:
            from search_replica_spark.index.codec import encode_position_lists

            plists = [np.asarray(x, dtype=np.int64) for x in pdf["positions"]]
            pos_bins = [
                encode_position_lists(plists[s : min(s + bs, len(plists))])
                for s in range(0, len(plists), bs)
            ]
        else:
            pos_bins = [(b"", b"")] * len(blocks)
        rows = [
            (term, base_block + bid, n, first, last, ms, dbin, tbin, lbin, npb, pb)
            for bid, ((n, first, last, ms, dbin, tbin, lbin), (npb, pb)) in enumerate(
                zip(blocks, pos_bins)
            )
        ]
        return pd.DataFrame(
            rows,
            columns=[
                "term", "block_id", "n", "first_doc_idx", "last_doc_idx",
                "max_score", "docs_bin", "tfs_bin", "dls_bin", "npos_bin", "pos_bin",
            ],
        )

    return fn


def _encode_partition_arrow(
    n_docs: int, avg_dl: float, cfg: IndexConfig, dl_bc=None, hot_bc=None, rev_bc=None
):
    """mapInArrow partition encoder — the fast path of the segment encode.

    Replaces groupBy(term, salt).applyInPandas for position-less builds:
    the upstream repartition(term, salt) + sortWithinPartitions(term, salt,
    doc_idx) makes every group a contiguous, doc-sorted run, so this
    function only walks group boundaries over zero-copy Arrow buffers.
    The win over the grouped-map path (measured, guide §4): no 47M-row
    Arrow→pandas conversion (the term column alone materialized one Python
    string object per posting), no per-group pandas DataFrame, no per-group
    Python sort. Scoring math is copied verbatim from _encode_blocks_fn —
    the two paths produce bit-identical segments (tested).

    ``dl_bc``/``hot_bc`` (set together): Spark broadcasts of the doc_len
    array (doc_idx-indexed) and the {hot term: df} dict. The JVM→Python
    transfer is this stage's measured wall (a consume-only pass costs the
    same as the full encode), so per-posting doc_len and df_hot columns —
    pure redundancy, one is per-DOC and the other per-GROUP — stay out of
    the exchange and the Arrow stream entirely (guide §2.3/§8: shuffle
    keys and metadata, attach the payload once).

    ``rev_bc`` (requires dl_bc/hot_bc, vocabulary-gated): broadcast of the
    sorted term list. The stream then carries (term_id int32, doc_idx
    int32, tf int32) — NO string column and NO salt column (salt is a
    pure function of doc_idx for hot terms, recomputed here; hot_bc is
    keyed by term_id). Measured on the 47M-posting sf0.1 exchange: the
    consume-only pass drops 21.3 s → 8.7 s — Spark's per-value Arrow
    string serialization was the single largest cost of the whole build.
    """
    k1, b, bs, range_docs = cfg.k1, cfg.b, cfg.block_size, cfg.salt_range_docs
    store_dl = cfg.store_doclens
    blocks_per_range = max(1, range_docs // bs)
    import math

    def fn(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        dl_arr = dl_bc.value if dl_bc is not None else None
        hot_map = hot_bc.value if hot_bc is not None else None
        rev = rev_bc.value if rev_bc is not None else None
        if rev is not None:
            hot_lut = np.zeros(max(len(rev), 1), dtype=bool)
            for t in hot_map:
                hot_lut[t] = True
        out_rows: list[list] = [[] for _ in range(9)]
        # pending group carried across batches: [term, salt, df_hot, chunks]
        cur: list | None = None

        def emit(term, salt, df_hot, chunks):
            if len(chunks) == 1:
                doc_idx, tf, dl = chunks[0]
            else:
                doc_idx = np.concatenate([c[0] for c in chunks])
                tf = np.concatenate([c[1] for c in chunks])
                dl = (
                    None if dl_arr is not None
                    else np.concatenate([c[2] for c in chunks])
                )
            if dl_arr is not None:
                dl = dl_arr[doc_idx]
            df_t = int(df_hot) if df_hot >= 0 else doc_idx.size
            idf = math.log(1.0 + (n_docs - df_t + 0.5) / (df_t + 0.5))
            dlf = dl.astype(np.float64)
            score = idf * (tf / (tf + k1 * (1.0 - b + b * dlf / avg_dl)))
            if store_dl:
                blocks = encode_postings_blocks(doc_idx, tf, score, bs, dl=dl)
            else:
                blocks = [(*blk, b"") for blk in encode_postings_blocks(doc_idx, tf, score, bs)]
            base = int(salt) * blocks_per_range
            o = out_rows
            for bid, (nn, first, last, ms, dbin, tbin, lbin) in enumerate(blocks):
                o[0].append(term)
                o[1].append(base + bid)
                o[2].append(nn)
                o[3].append(first)
                o[4].append(last)
                o[5].append(ms)
                o[6].append(dbin)
                o[7].append(tbin)
                o[8].append(lbin)

        def drain():
            o = out_rows
            n_out = len(o[0])
            batch = pa.record_batch(
                [
                    pa.array(o[0], pa.string()),
                    pa.array(o[1], pa.int32()),
                    pa.array(o[2], pa.int32()),
                    pa.array(o[3], pa.int64()),
                    pa.array(o[4], pa.int64()),
                    pa.array(o[5], pa.float64()),
                    pa.array(o[6], pa.binary()),
                    pa.array(o[7], pa.binary()),
                    pa.array(o[8], pa.binary()),
                    pa.array([b""] * n_out, pa.binary()),
                    pa.array([b""] * n_out, pa.binary()),
                ],
                names=[
                    "term", "block_id", "n", "first_doc_idx", "last_doc_idx",
                    "max_score", "docs_bin", "tfs_bin", "dls_bin",
                    "npos_bin", "pos_bin",
                ],
            )
            for i in range(9):
                out_rows[i] = []
            return batch

        for batch in batches:
            n_rows = batch.num_rows
            if n_rows == 0:
                continue
            di = batch.column("doc_idx").to_numpy(zero_copy_only=False).astype(
                np.int64, copy=False
            )
            tf = batch.column("tf").to_numpy(zero_copy_only=False).astype(
                np.int64, copy=False
            )
            if rev is not None:
                # int-stream fast path: term_id + derived salt (doc_idx //
                # salt_range for hot terms, 0 otherwise — monotone in the
                # (term_id, doc_idx) sort, so groups stay contiguous)
                codes = batch.column("term_id").to_numpy(zero_copy_only=False).astype(
                    np.int64, copy=False
                )
                salt_np = np.where(hot_lut[codes], di // range_docs, 0)
            else:
                t_arr = batch.column("term")
                salt_np = batch.column("salt").to_numpy(zero_copy_only=False)
                # group boundaries without materializing term objects:
                # per-batch dictionary codes change exactly where the term does
                codes = pc.dictionary_encode(t_arr).indices.to_numpy(
                    zero_copy_only=False
                )
            if dl_arr is None:
                dl = batch.column("doc_len").to_numpy(zero_copy_only=False).astype(
                    np.int64, copy=False
                )
                dh = (
                    pc.fill_null(batch.column("df_hot"), -1)
                    .to_numpy(zero_copy_only=False)
                    .astype(np.int64, copy=False)
                )
            change = (codes[1:] != codes[:-1]) | (salt_np[1:] != salt_np[:-1])
            bounds = np.flatnonzero(change)
            starts = np.empty(1 + bounds.size, dtype=np.int64)
            starts[0] = 0
            starts[1:] = bounds + 1
            ends = np.empty_like(starts)
            ends[:-1] = starts[1:]
            ends[-1] = n_rows
            for gi in range(starts.size):
                s, e = int(starts[gi]), int(ends[gi])
                key_term = rev[int(codes[s])] if rev is not None else t_arr[s].as_py()
                key_salt = int(salt_np[s])
                chunk = (di[s:e], tf[s:e], None if dl_arr is not None else dl[s:e])
                if cur is not None and cur[0] == key_term and cur[1] == key_salt:
                    cur[3].append(chunk)
                    continue
                if cur is not None:
                    emit(cur[0], cur[1], cur[2], cur[3])
                if rev is not None:
                    group_df = hot_map.get(int(codes[s]), -1)
                elif dl_arr is not None:
                    group_df = hot_map.get(key_term, -1)
                else:
                    group_df = int(dh[s])
                cur = [key_term, key_salt, group_df, [chunk]]
            if len(out_rows[0]) >= 50_000:
                yield drain()
        if cur is not None:
            emit(cur[0], cur[1], cur[2], cur[3])
        if out_rows[0]:
            yield drain()

    return fn


def _stage_docmap(spark: SparkSession, corpus: DataFrame, out: str, cfg: IndexConfig) -> dict:
    P = cfg.shuffle_partitions
    # spread the scan across cores if the source arrives badly under-split
    # (e.g. a single one-row-group file). A scan already split to ≥ P/2
    # tasks is left alone — a full rebalance shuffle of the raw content
    # costs more than the residual imbalance (measured: repartition(32) of
    # a 30-split scan made the stage 2× slower from oversubscription).
    src = corpus.select(*cfg.input_columns)
    if cfg.dedup_input:
        src = src.dropDuplicates(["repo", "path"])
    if src.rdd.getNumPartitions() < max(2, P // 2):
        src = src.repartition(P)
    docs = with_doc_ids(src)
    # "auto" resolves to the jvm codegen pipeline (measured 2× faster than
    # the Arrow counting path at the bench's 32-core setting — see the
    # IndexConfig.tokenizer note); pass tokenizer="arrow" explicitly on
    # shuffle-constrained clusters to make the postings write map-only.
    tokenizer = cfg.tokenizer
    if tokenizer == "auto":
        tokenizer = "jvm"
    if cfg.store_positions and tokenizer != "jvm":
        raise ValueError("store_positions requires the jvm tokenizer")
    if cfg.field_analyzers is not None:
        if tokenizer != "jvm":
            raise ValueError("field_analyzers requires the jvm tokenizer")
        missing = [f for f, _k in cfg.field_analyzers if f not in src.columns]
        if missing:
            raise ValueError(
                f"field_analyzers references columns not in input_columns: {missing}"
            )
    tok = (
        tokenize_counts_jvm(
            docs,
            with_positions=cfg.store_positions,
            field_analyzers=cfg.field_analyzers,
        )
        if tokenizer == "jvm"
        else tokenize_counts(docs)
    )
    tok.write.mode("overwrite").parquet(os.path.join(out, "postings"))

    # reread the just-written postings instead of caching 47M+ rows in
    # executor memory — the reread is columnar and cheap, the cache is
    # memory-bandwidth the tokenizer needs. _nt (postings per doc) rides
    # along so the segments stage gets its postings total for free from
    # the dense-assign collect instead of its own count job.
    postings = spark.read.parquet(os.path.join(out, "postings"))
    doc_len = postings.groupBy("doc_id").agg(
        F.sum("tf").alias("doc_len"), F.count("*").alias("_nt")
    )
    meta_cols = ["doc_id", "repo", "path", "lang", "content_sha256"]
    if cfg.store_source:
        # stored fields / _source (Lucene parity): every input column rides
        # in docs/ so partial updates and GET-by-id can resolve the full doc
        meta_cols += [c for c in cfg.input_columns if c not in meta_cols]
    doc_meta = docs.select(*meta_cols)
    # identity guard: a doc_id seen twice means duplicate (repo, path) input
    # rows or a 60-bit hash collision — either would silently merge postings
    # and doc stats, so fail fast (one narrow agg; content is pruned away)
    idc = doc_meta.agg(
        F.count("*").alias("n"), F.countDistinct("doc_id").alias("d")
    ).collect()[0]
    if int(idc["n"]) != int(idc["d"]):
        raise ValueError(
            f"doc_id not unique over input ({idc['n']} rows, {idc['d']} distinct ids): "
            "duplicate (repo, path) rows or a doc_id hash collision. "
            "Dedup the snapshot or pass IndexConfig(dedup_input=True)."
        )
    doc_stats = doc_meta.join(doc_len, "doc_id", "left").fillna({"doc_len": 0, "_nt": 0})
    if cfg.field_analyzers is not None:
        # per-field doc lengths (Lucene per-field norms): each mapped
        # field's token count per doc, derived from the qualified postings
        # ("field:term" → field) with ONE pivot aggregation — no second
        # tokenization pass. Rides in docs/ as dl_<field>; the per-field
        # BM25 scorer (fielded_norms_topk) normalizes each field by its
        # own length + avgdl, exactly like ES scores multi-field queries.
        fields = [f for f, _k in cfg.field_analyzers]
        per_f = (
            postings.withColumn("_fld", F.split(F.col("term"), ":", 2).getItem(0))
            .groupBy("doc_id")
            .pivot("_fld", fields)
            .agg(F.sum("tf"))
        )
        per_f = per_f.select(
            "doc_id", *[F.col(f).alias(f"dl_{f}") for f in fields]
        )
        doc_stats = doc_stats.join(per_f, "doc_id", "left").fillna(
            {f"dl_{f}": 0 for f in fields}
        )
    # persist so the range partitioner's sampling pass and the shuffle read
    # the meta⋈doc_len join once instead of executing it twice; the dense
    # assign writes its (already range-partitioned, doc_idx-sorted) output
    # straight to docs/ — no second repartitionByRange — and the collect it
    # pays anyway also returns the global doc/token/posting totals the
    # segments stage needs (one less aggregation job there).
    doc_stats = doc_stats.persist()
    dm: dict = {}
    assign_dense_doc_idx(
        doc_stats, P, stats_out=dm,
        write_to=os.path.join(out, "docs"), drop_cols=("_nt",),
    )
    doc_stats.unpersist()
    return dm


def _stage_segments(
    spark: SparkSession, out: str, cfg: IndexConfig, dm: dict | None = None
) -> dict:
    P = cfg.shuffle_partitions
    postings = spark.read.parquet(os.path.join(out, "postings"))
    doc_map = spark.read.parquet(os.path.join(out, "docs"))

    # global doc/token/posting totals: normally handed over from the docmap
    # stage (one collect already pays for them there); recomputed only when
    # resuming from a manifest that predates the handoff. float(sum)/n is
    # exact-identical to F.avg here: the integer sums are exact in float64.
    if dm and "n_docs" in dm and "sum_doc_len" in dm:
        n_docs = int(dm["n_docs"])
        total_tokens = int(dm["sum_doc_len"])
        n_post = int(dm["sum__nt"]) if "sum__nt" in dm else postings.count()
    else:
        agg = doc_map.agg(
            F.count("*").alias("n"), F.sum("doc_len").alias("tok")
        ).collect()[0]
        n_docs = int(agg["n"])
        total_tokens = int(agg["tok"]) if agg["tok"] is not None else 0
        n_post = postings.count()  # parquet metadata count — no scan
    avg_dl = (float(total_tokens) / n_docs) if n_docs else 0.0

    # shuffle width must scale with DATA, not cores: at fixed width the
    # per-reducer sort for the encode exchange outgrows execution
    # memory and external-sort spill makes the stage superlinear (measured:
    # 2× corpus → 4× stage time). AQE coalesces surplus partitions, so
    # over-provisioning is safe.
    width = max(P, n_post // 2_000_000 + 1)
    old_width = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(width))

    # localCheckpoint: the dict is tiny (one row per term) but its parent is
    # a full pass over the postings — without the checkpoint the range
    # partitioner's SAMPLING executes that pass a second time (measured:
    # the dict write was 2× the cost of the aggregation itself). The dict
    # parquet itself is written AFTER the segments (below) so the per-term
    # gmax can ride in it directly — finalize used to rewrite the whole
    # dict for that one column.
    df_tbl = postings.groupBy("term").agg(F.count("*").alias("df")).localCheckpoint()
    hot = df_tbl.filter(F.col("df") > cfg.hot_df_threshold).withColumnRenamed("df", "df_hot")

    # per-posting doc_len and df_hot are redundant copies of per-DOC /
    # per-GROUP values: when the doc map is broadcast-sized (the same ≤5M
    # cutoff the join already uses) and the hot-term set is small (it is by
    # construction — df above threshold), resolve BOTH inside the Python
    # encoder from Spark broadcasts and keep their 16 bytes/posting out of
    # the exchange and the Arrow stream (the measured wall of this stage).
    hot_rows = hot.collect()  # tiny: one row per over-threshold term
    py_side = (
        not cfg.store_positions
        and n_docs <= 5_000_000
        and len(hot_rows) <= 10_000
    )
    # int-stream refinement of the py_side path (guide §2.3, narrower
    # types + no strings): when the vocabulary also fits a broadcast,
    # replace the per-posting term STRING with an int32 term_id (broadcast
    # dictionary join — the id table is sorted-term-indexed so the encoder
    # maps ids back from one broadcast list), narrow doc_idx to int32
    # (n_docs ≤ 5M ⇒ always fits here), and drop the salt column entirely
    # (derived from doc_idx inside the encoder). Measured: the consume-only
    # Arrow pass over the sf0.1 encode exchange drops 21.3 s → 8.7 s —
    # Spark's per-value string serialization dominated the stage.
    n_terms_known: int | None = None
    if py_side:
        n_terms_known = df_tbl.count()
    use_tid = py_side and n_terms_known is not None and n_terms_known <= 1_000_000
    dl_bc = hot_bc = rev_bc = None
    if py_side:
        sc = spark.sparkContext
        dl_pdf = doc_map.select("doc_idx", "doc_len").toPandas().sort_values("doc_idx")
        dl_bc = sc.broadcast(dl_pdf["doc_len"].to_numpy(np.int64))
        doc_side = F.broadcast(doc_map.select("doc_id", "doc_idx"))
    if use_tid:
        terms_sorted = sorted(r["term"] for r in df_tbl.select("term").collect())
        tmap = {t: i for i, t in enumerate(terms_sorted)}
        rev_bc = sc.broadcast(terms_sorted)
        hot_ids = [tmap[r["term"]] for r in hot_rows]
        hot_bc = sc.broadcast(
            {tmap[r["term"]]: int(r["df_hot"]) for r in hot_rows}
        )
        tid_df = F.broadcast(
            spark.createDataFrame(
                pd.DataFrame(
                    {
                        "term": pd.Series(terms_sorted, dtype="object"),
                        "term_id": np.arange(len(terms_sorted), dtype=np.int32),
                    }
                ),
                schema="term string, term_id int",  # empty corpus: no inference
            )
        )
        narrow = (
            postings.join(doc_side, "doc_id")
            .join(tid_df, "term")
            .select(
                "term_id",
                F.col("doc_idx").cast("int").alias("doc_idx"),
                F.col("tf").cast("int").alias("tf"),
            )
        )
        salt_expr = F.when(
            F.col("term_id").isin(hot_ids) if hot_ids else F.lit(False),
            (F.col("doc_idx") / F.lit(cfg.salt_range_docs)).cast("int"),
        ).otherwise(F.lit(0))
    elif py_side:
        hot_bc = sc.broadcast({r["term"]: int(r["df_hot"]) for r in hot_rows})
        hot_terms = [r["term"] for r in hot_rows]
        p2 = postings.join(doc_side, "doc_id").withColumn(
            "salt",
            F.when(
                F.col("term").isin(hot_terms) if hot_terms else F.lit(False),
                (F.col("doc_idx") / F.lit(cfg.salt_range_docs)).cast("int"),
            ).otherwise(F.lit(0)),
        )
        narrow = p2.select(
            "term", "salt", "doc_idx", F.col("tf").cast("int").alias("tf")
        )
    else:
        # doc-side of the postings join: broadcast while the doc map fits
        # (3 narrow columns); beyond that fall back to a shuffle join — at
        # true 10^12-doc scale the right plan is a bucketed/colocated join
        doc_side = doc_map.select("doc_id", "doc_idx", "doc_len")
        if n_docs <= 5_000_000:
            doc_side = F.broadcast(doc_side)
        p2 = postings.join(doc_side, "doc_id").join(F.broadcast(hot), "term", "left")
        p2 = p2.withColumn(
            "salt",
            F.when(
                F.col("df_hot").isNotNull(),
                (F.col("doc_idx") / F.lit(cfg.salt_range_docs)).cast("int"),
            ).otherwise(F.lit(0)),
        )
        narrow = p2.select("term", "salt", "doc_idx", "tf", "doc_len", "df_hot")
    if cfg.store_positions:
        # positions carry a per-posting list column — stays on the grouped-
        # map pandas path (built rarely and only for phrase-enabled indexes)
        seg = p2.groupBy("term", "salt").applyInPandas(
            _encode_blocks_fn(n_docs, avg_dl, cfg), schema=SEGMENT_SCHEMA
        )
    elif use_tid:
        # int-stream fast path: partition by (term_id, derived salt) — the
        # salt needs no column, it is an expression over the two ints; the
        # within-partition sort on (term_id, doc_idx) is identical to the
        # old (term, salt, doc_idx) order because salt is monotone in
        # doc_idx per term. The encoder re-derives salt and maps term_id
        # back to the string through the broadcast list.
        seg = (
            narrow.repartition(width, F.col("term_id"), salt_expr)
            .sortWithinPartitions("term_id", "doc_idx")
            .mapInArrow(
                _encode_partition_arrow(
                    n_docs, avg_dl, cfg, dl_bc, hot_bc, rev_bc
                ),
                schema=SEGMENT_SCHEMA,
            )
        )
    else:
        # fast path: project to exactly the encoder's columns (the exchange
        # never carries doc_id — guide §2.3), hash-partition by group key,
        # JVM-sort groups contiguous and doc-ordered, then walk group
        # boundaries over Arrow buffers (no pandas, no per-posting Python
        # objects — see _encode_partition_arrow). Large Arrow batches cut
        # the per-batch boundary overhead (measured 10k → 100k: −23%).
        seg = (
            narrow.repartition(width, "term", "salt")
            .sortWithinPartitions("term", "salt", "doc_idx")
            .mapInArrow(
                _encode_partition_arrow(n_docs, avg_dl, cfg, dl_bc, hot_bc),
                schema=SEGMENT_SCHEMA,
            )
        )
    # hash-repartition by term (NOT repartitionByRange: range sampling would
    # evaluate the whole encode plan twice) + in-file sort: each term's
    # blocks are contiguous in one file, so term-IN pushdown prunes row
    # groups just as well as a global range order
    seg = seg.repartition(P, "term").sortWithinPartitions("term", "block_id")
    old_arrow = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "100000")
    try:
        seg.write.mode("overwrite").parquet(os.path.join(out, "segments"))
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old_arrow)
        if dl_bc is not None:
            dl_bc.unpersist()
            hot_bc.unpersist()
        if rev_bc is not None:
            rev_bc.unpersist()

    # dict with the per-term gmax fused in: one metadata-only scan of the
    # just-written segments (term + max_score — parquet never touches the
    # binary streams) joined to the checkpointed df table. Writing the dict
    # ONCE here replaces finalize's read-join-rewrite-rename of the whole
    # dict for the gmax column (3 jobs + 2 renames per build).
    gmax_tbl = (
        spark.read.parquet(os.path.join(out, "segments"))
        .groupBy("term")
        .agg(F.max("max_score").alias("gmax"))
    )
    (
        df_tbl.join(gmax_tbl, "term", "left")
        .repartitionByRange(min(P, 8), "term")
        .sortWithinPartitions("term")
        .write.mode("overwrite")
        .parquet(os.path.join(out, "dict"))
    )

    spark.conf.set("spark.sql.shuffle.partitions", old_width)
    core = {"n_docs": n_docs, "avg_dl": avg_dl, "total_tokens": total_tokens}
    if n_terms_known is not None:
        # hand the vocabulary size to finalize (it is one row per term in
        # df_tbl == the dict) — saves finalize's dict count job per build
        core["n_terms"] = int(n_terms_known)
    return core


def _stage_finalize(spark: SparkSession, out: str, cfg: IndexConfig, core: dict, t0: float) -> dict:
    P = cfg.shuffle_partitions
    segdf = spark.read.parquet(os.path.join(out, "segments"))
    # per-partition lineage: one row per output file (= shuffle partition),
    # from ONE scan of segments/. The per-term gmax no longer needs its own
    # pass here — the segments stage writes the dict with gmax fused in
    # (a legacy resume against a gmax-less dict is enriched below).
    lineage = segdf.groupBy(F.input_file_name().alias("file")).agg(
        F.count("*").alias("blocks"),
        F.sum("n").alias("postings_emitted"),
        (F.sum(F.length("docs_bin")) + F.sum(F.length("tfs_bin"))).alias(
            "bytes_compressed"
        ),
        F.countDistinct("term").alias("terms"),
    ).withColumn("stage", F.lit("segments"))
    lineage.write.mode("overwrite").parquet(os.path.join(out, "lineage"))

    dict_new = os.path.join(out, "_dict_gmax")
    if not os.path.exists(os.path.join(out, "dict")) and os.path.exists(dict_new):
        # crash window on a legacy finalize: dict/ removed, rename pending
        os.rename(dict_new, os.path.join(out, "dict"))
    dict_df = spark.read.parquet(os.path.join(out, "dict"))
    if "gmax" not in dict_df.columns:
        # legacy resume: segments stage committed by the pre-r6 code whose
        # dict carried no gmax — enrich it once, written fresh + renamed in
        gmax_tbl = segdf.groupBy("term").agg(F.max("max_score").alias("gmax"))
        (
            dict_df.join(gmax_tbl, "term", "left")
            .repartitionByRange(min(P, 8), "term")
            .sortWithinPartitions("term")
            .write.mode("overwrite")
            .parquet(dict_new)
        )
        shutil.rmtree(os.path.join(out, "dict"))
        os.rename(dict_new, os.path.join(out, "dict"))

    lin = spark.read.parquet(os.path.join(out, "lineage")).agg(
        F.sum("postings_emitted").alias("p"),
        F.sum("bytes_compressed").alias("b"),
        F.sum("blocks").alias("k"),
    ).collect()[0]
    lin = {k: (int(v) if v is not None else 0) for k, v in lin.asDict().items()}
    n_terms = (
        int(core["n_terms"])
        if "n_terms" in core
        else spark.read.parquet(os.path.join(out, "dict")).count()
    )

    field_stats = None
    if cfg.field_analyzers is not None:
        # per-field collection statistics (ES/Lucene per-field norms):
        # docCount = docs WITH the field (dl_f > 0 — a field a doc lacks
        # can never match a term, so it never dilutes idf), avg_dl = that
        # field's mean length over those docs. One narrow agg over docs/.
        fields = [f for f, _k in cfg.field_analyzers]
        docs_df = spark.read.parquet(os.path.join(out, "docs"))
        if not all(f"dl_{f}" in docs_df.columns for f in fields):
            fields = []  # legacy fielded docs store (pre per-field norms)
        if fields:
            aggs = []
            for f in fields:
                aggs.append(F.count(F.when(F.col(f"dl_{f}") > 0, 1)).alias(f"n_{f}"))
                aggs.append(F.sum(f"dl_{f}").alias(f"s_{f}"))
            row = docs_df.agg(*aggs).collect()[0]
            # sum_dl rides along so generational merges recombine stats
            # EXACTLY (integer sums, one final float division — bit-equal
            # to a single-index build; re-deriving from n*avg_dl would
            # round twice)
            field_stats = {
                f: {
                    "n": int(row[f"n_{f}"]),
                    "sum_dl": int(row[f"s_{f}"] or 0),
                    "avg_dl": (float(row[f"s_{f}"]) / row[f"n_{f}"])
                    if row[f"n_{f}"]
                    else 0.0,
                }
                for f in fields
            }

    stats = {
        **core,
        "n_terms": n_terms,
        "docs_tokenized": core["n_docs"],
        "postings_emitted": lin["p"],
        "bytes_compressed": lin["b"],
        "n_blocks": lin["k"],
        "k1": cfg.k1,
        "b": cfg.b,
        "store_doclens": cfg.store_doclens,
        "store_positions": cfg.store_positions,
        "store_source": cfg.store_source,
        # part of the index's fixed creation-time contract (like the flags
        # above): later generations and partial/inline updates must resolve
        # against the SAME column set even when built with a default cfg
        "input_columns": list(cfg.input_columns),
        "field_analyzers": [list(t) for t in cfg.field_analyzers]
        if cfg.field_analyzers is not None
        else None,
        "field_stats": field_stats,
        "block_size": cfg.block_size,
        "build_sec": round(time.time() - t0, 3),
    }
    write_durable(os.path.join(out, "stats.json"), json.dumps(stats, indent=2))
    # drop the stage intermediate (resume keeps it only until finalize)
    shutil.rmtree(os.path.join(out, "postings"), ignore_errors=True)
    return stats


def build_index(
    spark: SparkSession,
    corpus: DataFrame,
    out_dir: str,
    cfg: IndexConfig | None = None,
) -> dict:
    """Build (or resume building) the full index at ``out_dir``.

    Layout:
      out_dir/docs/      doc_idx, doc_id, repo, path, lang, content_sha256, doc_len
      out_dir/segments/  SEGMENT_SCHEMA, range-partitioned + sorted by term
      out_dir/dict/      term, df  (term dictionary + doc frequency)
      out_dir/lineage/   per-partition build metrics
      out_dir/stats.json global stats + lineage totals
      out_dir/manifest.json  stage checkpoint state
    """
    cfg = cfg or IndexConfig()
    t0 = time.time()
    m = Manifest(out_dir)
    os.makedirs(out_dir, exist_ok=True)
    fp = input_fingerprint(corpus)
    m.bind_input(fp)

    if m.stage_done("finalize"):
        with open(os.path.join(out_dir, "stats.json")) as f:
            return json.load(f)

    # data-scaled shuffle width for the whole build (docmap's token groupBy
    # shuffles ~250 postings/doc; a cores-sized width spills its reducer
    # sorts and turns linear stages superlinear). AQE coalesces any excess,
    # so a generous estimate is safe. _stage_segments refines it from the
    # exact postings count. The row count already rides in the fingerprint
    # ("schema|n|digest") — no second count job.
    n_files_est = int(fp.rsplit("|", 2)[1])
    width = max(cfg.shuffle_partitions, n_files_est * 250 // 2_000_000)
    old_width = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(width))

    if not m.stage_done("docmap"):
        m.start_stage("docmap")
        dm = _stage_docmap(spark, corpus, out_dir, cfg)
        m.finish_stage("docmap", dm)
    else:
        dm = m.data["stages"]["docmap"].get("metrics") or None

    if not m.stage_done("segments"):
        m.start_stage("segments")
        core = _stage_segments(spark, out_dir, cfg, dm)
        m.finish_stage("segments", core)
    else:
        core = m.data["stages"]["segments"]["metrics"]

    m.start_stage("finalize")
    stats = _stage_finalize(spark, out_dir, cfg, core, t0)
    m.finish_stage("finalize")
    spark.conf.set("spark.sql.shuffle.partitions", old_width)
    return stats
