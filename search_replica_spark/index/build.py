"""Distributed inverted-index build: corpus → postings columns + dictionary.

Spark-first re-expression of the reference's entire indexing dataflow
(reference: postgres/reindex.go:29-91 snapshot scan → postgres/table.go
row→doc transform → search/bulk.go batched sink) PLUS the index construction
the reference delegates to Elasticsearch/Lucene.

Pipeline (manifest-checkpointed stages):

  stage "docmap":
    read parquet (pruned to repo,path,content — Catalyst pushes projection)
      → doc_id/sha256 columns (JVM-side sha2/conv expressions)
      → tokenize + count per (doc, term)
      → write _tokens/                (stage checkpoint intermediate)
      → groupBy doc_id                (doc lengths; dense doc_idx two-pass)
      → write docs/                   (zstd, parquet v2 pages, like postings/)
  stage "segments":
    read _tokens/ + docs/ back
      → term_id = rank in term order  (the same dense two-pass assignment)
      → join to (term_id, doc_idx, tf[, positions]), range-partition and
        sort on (term_id, doc_idx), write postings/ (format 2: plain int32
        columns, parquet v2 pages, zstd)
      → in the driver, from the part files' term_id columns: each term's
        first row (``start``), written with the df into dict/, and lineage/
  stage "finalize":
    stats.json (with ``"format": 2``), drop the intermediate.

Every table Spark writes into the index goes out under one parquet policy,
``INDEX_WRITE_OPTIONS``. The codecs are not part of the format: footers
describe their own, so a docs/ written snappy with v1 pages reads as it
is. Before a stage is marked done in the manifest, and before stats.json
is written, the stage's part files and directories are fsynced
(``fsync_tables``), so a commit never names files a power loss can tear.

A term's postings are rows ``[start, start + df)`` of the concatenation of
the postings part files in name order; a reader slices them as they are,
with no decode.

Resume: re-running build_index on the same out_dir with the same input
fingerprint skips completed stages (reference analogue: LSN commit/resume,
search/bulk.go:345-347, main.go:164-165). Within a stage, per-partition
recovery is Spark task retry over idempotent overwrite-mode writes.

Scale notes (100 TB design): the shuffles key on high-cardinality columns
(doc_id, term, term_id/doc_idx ranges). Dense doc_idx and term_id
assignment is the standard two-pass partition-offset trick — O(P) driver
state, no global-sort bottleneck. The driver's share is the dictionary and
one part file's term_id column at a time.
"""

from __future__ import annotations

import json
import os
import shutil
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from search_replica_spark.analysis.tokenizer import tokenize_flat
from search_replica_spark.config import IndexConfig
from search_replica_spark.index.manifest import (
    INDEX_FORMAT,
    Manifest,
    fsync_tables,
    input_fingerprint,
    part_files,
    write_durable,
)
from search_replica_spark.query.store import read_table, term_runs


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


# the tables a build's stats.json commits
INDEX_TABLES = ("docs", "postings", "dict", "lineage")

INDEX_WRITE_OPTIONS = {
    # every table Spark writes into an index (docs/, postings/): parquet v2
    # pages, so sorted ints go out DELTA_BINARY_PACKED and unique strings
    # (content_sha256, path) DELTA_BYTE_ARRAY once the dictionary falls
    # back; term_id and doc_idx, sorted, skip the dictionary outright.
    # With zstd, postings/ is less than half and docs/ about 55% of the
    # bytes of Spark's default (snappy, v1 pages)
    "compression": "zstd",
    "parquet.writer.version": "v2",
    "parquet.enable.dictionary#term_id": "false",
    "parquet.enable.dictionary#doc_idx": "false",
}


def assign_dense_doc_idx(
    doc_stats: DataFrame,
    partitions: int,
    stats_out: dict | None = None,
    write_to: str | None = None,
    drop_cols: tuple[str, ...] = (),
    key: str = "doc_id",
    idx_col: str = "doc_idx",
) -> DataFrame | None:
    """doc_id → dense ordinal doc_idx (0..N-1 in doc_id order), scalably;
    ``key``/``idx_col`` name another key and ordinal (the term ids).

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
        doc_stats.repartitionByRange(partitions, key)
        .sortWithinPartitions(key)
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
            out[idx_col] = np.arange(local + seen, local + seen + len(pdf), dtype=np.int64)
            seen += len(pdf)
            yield out

    cols = [c for c in doc_stats.columns if c not in drop_cols]
    schema = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in doc_stats.schema.fields)
    out = ds.mapInPandas(fn, schema=f"{schema}, {idx_col} long").select(*cols, idx_col)
    if write_to is not None:
        out.write.mode("overwrite").options(**INDEX_WRITE_OPTIONS).parquet(write_to)
        ds.unpersist()
        return None
    return out


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
    tok.write.mode("overwrite").parquet(os.path.join(out, "_tokens"))

    # reread the just-written postings instead of caching 47M+ rows in
    # executor memory — the reread is columnar and cheap, the cache is
    # memory-bandwidth the tokenizer needs. _nt (postings per doc) rides
    # along so the segments stage gets its postings total for free from
    # the dense-assign collect instead of its own count job.
    postings = spark.read.parquet(os.path.join(out, "_tokens"))
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
    """_tokens/ + docs/ → postings/ (term_id, doc_idx, tf[, positions]),
    dict/ (term, term_id, df, start) and lineage/."""
    P = cfg.shuffle_partitions
    tokens = spark.read.parquet(os.path.join(out, "_tokens"))
    doc_map = spark.read.parquet(os.path.join(out, "docs"))

    # global doc/token/posting totals: normally handed over from the docmap
    # stage (one collect already pays for them there); recomputed only when
    # resuming from a manifest that predates the handoff. float(sum)/n is
    # exact-identical to F.avg here: the integer sums are exact in float64.
    if dm and "n_docs" in dm and "sum_doc_len" in dm:
        n_docs = int(dm["n_docs"])
        total_tokens = int(dm["sum_doc_len"])
        n_post = int(dm["sum__nt"]) if "sum__nt" in dm else tokens.count()
    else:
        agg = doc_map.agg(
            F.count("*").alias("n"), F.sum("doc_len").alias("tok")
        ).collect()[0]
        n_docs = int(agg["n"])
        total_tokens = int(agg["tok"]) if agg["tok"] is not None else 0
        n_post = tokens.count()  # parquet metadata count — no scan
    avg_dl = (float(total_tokens) / n_docs) if n_docs else 0.0

    # shuffle width must scale with DATA, not cores: at fixed width the
    # per-reducer sort outgrows execution memory and external-sort spill
    # makes the stage superlinear (measured: 2× corpus → 4× stage time).
    width = max(P, n_post // 2_000_000 + 1)
    old_width = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(width))
    try:
        # term_id = the term's rank in term order: the dense-ordinal
        # assignment docs get, over the (term, df) table — no vocabulary
        # size gate, no driver-side term list
        terms_dir = os.path.join(out, "_terms")
        assign_dense_doc_idx(
            tokens.groupBy("term").agg(F.count("*").alias("df")),
            min(P, 8), write_to=terms_dir, key="term", idx_col="term_id",
        )
        term_ids = spark.read.parquet(terms_dir).select(
            "term", F.col("term_id").cast("int")
        )
        cols = ["term_id", "doc_idx", F.col("tf").cast("int").alias("tf")]
        if cfg.store_positions:
            cols.append(F.col("positions").cast("array<int>").alias("positions"))
        narrow = (
            tokens.join(doc_map.select("doc_id", F.col("doc_idx").cast("int")), "doc_id")
            .join(term_ids, "term")
            .select(*cols)
        )
        # a range split on (term_id, doc_idx): part files in name order
        # concatenate to the global sort, and a hot term may span files
        # (no salting needed to spread it)
        (
            narrow.repartitionByRange(width, "term_id", "doc_idx")
            .sortWithinPartitions("term_id", "doc_idx")
            .write.mode("overwrite")
            .options(**INDEX_WRITE_OPTIONS)
            .parquet(os.path.join(out, "postings"))
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_width)

    dict_t = read_table(terms_dir, ["term", "term_id", "df"]).sort_by("term_id")
    start, lineage = _postings_layout(
        os.path.join(out, "postings"), dict_t["df"].to_numpy()
    )
    dict_t = pa.table({
        "term": dict_t["term"],
        "term_id": dict_t["term_id"].cast(pa.int32()),
        "df": dict_t["df"].cast(pa.int64()),
        "start": pa.array(start, pa.int64()),
    })
    # sorted terms share prefixes and term_id/start ascend: delta encodings
    # keep the dictionary at a third of its dictionary-page size
    _write_driver_table(dict_t, os.path.join(out, "dict"), use_dictionary=["df"],
                        column_encoding={"term": "DELTA_BYTE_ARRAY",
                                         "term_id": "DELTA_BINARY_PACKED",
                                         "start": "DELTA_BINARY_PACKED"})
    _write_driver_table(pa.Table.from_pylist(lineage), os.path.join(out, "lineage"))
    shutil.rmtree(terms_dir, ignore_errors=True)
    return {
        "n_docs": n_docs, "avg_dl": avg_dl, "total_tokens": total_tokens,
        "n_terms": dict_t.num_rows,
        "postings_emitted": int(sum(x["postings_emitted"] for x in lineage)),
        "bytes_compressed": int(sum(x["bytes_compressed"] for x in lineage)),
    }


def _postings_layout(postings_dir: str, df: np.ndarray) -> tuple[np.ndarray, list[dict]]:
    """Each term's first row in the concatenation of the postings part
    files in name order, read from their term_id columns, and one lineage
    row per file. Makes no assumption about Spark's output order: raises
    ``ValueError`` unless every term's rows are one contiguous run of
    exactly ``df[term_id]`` rows."""
    start = np.full(df.size, -1, np.int64)
    count = np.zeros(df.size, np.int64)
    lineage, offset, last = [], 0, -1
    for path in part_files(postings_dir):
        tid = pq.ParquetFile(path).read(columns=["term_id"]).column(0).to_numpy()
        firsts, ends = term_runs(tid)
        ids, counts = tid[firsts], ends - firsts
        lineage.append({
            "file": os.path.basename(path), "stage": "segments",
            "postings_emitted": int(tid.size), "terms": int(ids.size),
            "bytes_compressed": os.path.getsize(path),
        })
        if ids.size and ids[0] == last:  # the previous file's last term goes on
            count[last] += counts[0]
            ids, firsts, counts = ids[1:], firsts[1:], counts[1:]
        if np.unique(ids).size != ids.size or (start[ids] >= 0).any():
            raise ValueError(f"postings of a term are not contiguous across {postings_dir}")
        start[ids], count[ids] = offset + firsts, counts
        offset += tid.size
        last = int(tid[-1]) if tid.size else last
    if not np.array_equal(count, df):
        raise ValueError(f"postings rows in {postings_dir} do not match the dictionary dfs")
    return start, lineage


def _write_driver_table(table: pa.Table, table_dir: str, **options) -> None:
    """Write a small table (the dictionary, the lineage) from the driver as
    one zstd part file, replacing the directory."""
    shutil.rmtree(table_dir, ignore_errors=True)
    os.makedirs(table_dir)
    pq.write_table(table, os.path.join(table_dir, "part-00000.parquet"),
                   row_group_size=1 << 16, compression="zstd", **options)


def _stage_finalize(spark: SparkSession, out: str, cfg: IndexConfig, core: dict, t0: float) -> dict:
    field_stats = None
    if cfg.field_analyzers is not None:
        # per-field collection statistics (ES/Lucene per-field norms):
        # docCount = docs WITH the field (dl_f > 0 — a field a doc lacks
        # can never match a term, so it never dilutes idf), avg_dl = that
        # field's mean length over those docs. One narrow agg over docs/.
        fields = [f for f, _k in cfg.field_analyzers]
        docs_df = spark.read.parquet(os.path.join(out, "docs"))
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
        "format": INDEX_FORMAT,
        **core,
        "docs_tokenized": core["n_docs"],
        "k1": cfg.k1,
        "b": cfg.b,
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
        "build_sec": round(time.time() - t0, 3),
    }
    # merge_generations/compact reach here without build_index's stage
    # commits; for a build this re-syncs files already on disk
    fsync_tables(out, INDEX_TABLES)
    write_durable(os.path.join(out, "stats.json"), json.dumps(stats, indent=2))
    # drop the stage intermediate (resume keeps it only until finalize)
    shutil.rmtree(os.path.join(out, "_tokens"), ignore_errors=True)
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
                         (zstd, v2 pages: the sorted ints DELTA_BINARY_PACKED)
      out_dir/postings/  term_id int32, doc_idx int32, tf int32
                         [, positions list<int32>], sorted by (term_id, doc_idx)
      out_dir/dict/      term, term_id, df, start  (postings rows [start, start + df))
      out_dir/lineage/   per-file build metrics
      out_dir/stats.json global stats + lineage totals, "format": 2
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
        fsync_tables(out_dir, ("_tokens", "docs"))
        m.finish_stage("docmap", dm)
    else:
        dm = m.data["stages"]["docmap"].get("metrics") or None

    if not m.stage_done("segments"):
        m.start_stage("segments")
        core = _stage_segments(spark, out_dir, cfg, dm)
        fsync_tables(out_dir, ("postings", "dict", "lineage"))
        m.finish_stage("segments", core)
    else:
        core = m.data["stages"]["segments"]["metrics"]

    m.start_stage("finalize")
    stats = _stage_finalize(spark, out_dir, cfg, core, t0)
    m.finish_stage("finalize")
    spark.conf.set("spark.sql.shuffle.partitions", old_width)
    return stats
