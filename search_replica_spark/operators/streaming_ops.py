"""Stream-shaped operators over the ``events`` table (batch form of the
Structured Streaming patterns: sessionization = session_window / stateful
lag, windowed agg = tumbling window + watermark). SQL twins run in DuckDB.

At streaming scale these run as `groupBy(session_window(ts, gap))` /
`groupBy(window(ts, size))` with watermarks (see streaming/incremental.py
for the engine's actual streaming path); the batch formulations here have
identical semantics on a closed input and are oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from search_replica_spark.operators import load, register

GAP_MIN = 30


# Sessionization: a new session starts after a >30-min silence per user.
@register(
    "events_sessionize",
    f"""SELECT user_id, event_id,
               CAST(sum(CASE WHEN gap_s IS NULL OR gap_s > {GAP_MIN * 60} THEN 1 ELSE 0 END)
                    OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS session_idx
        FROM (
          SELECT user_id, event_id, ts,
                 epoch(ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) AS gap_s
          FROM events
        )""",
)
def events_sessionize(spark, sf_dir):
    e = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    new_sess = F.when(gap.isNull() | (gap > GAP_MIN * 60), 1).otherwise(0)
    return e.select(
        "user_id",
        "event_id",
        F.sum(new_sess).over(w).cast("long").alias("session_idx"),
    )


# Tumbling 1-hour windowed aggregation (epoch-seconds window key so the
# timestamp survives the cross-engine value hash).
@register(
    "events_windowed_agg",
    """SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS window_start,
              event_type,
              count(*) AS n,
              round(sum(value), 6) AS total_value
       FROM events GROUP BY 1, 2""",
)
def events_windowed_agg(spark, sf_dir):
    e = load(spark, sf_dir, "events")
    return e.groupBy(
        F.unix_timestamp(F.date_trunc("hour", F.col("ts"))).alias("window_start"),
        "event_type",
    ).agg(F.count("*").alias("n"), F.round(F.sum("value"), 6).alias("total_value"))


# P14/B9 streamed deletes: run the REAL generational engine — gen 0 indexes
# every document, gen 1 is a delete-only tombstone batch (doc_id % 7 == 0)
# — and read back the docs the liveDocs mask leaves visible. The oracle is
# the plain anti-delete spec; matching it proves the tombstone machinery
# (reference: Delete dispatch, postgres/replication.go:324-347).
def cdc_index_dir(spark, sf_dir) -> str:
    """Build-once-and-return-path for the shared 2-generation CDC harness
    index (gen 0 = all documents, gen 1 = tombstones for doc_id % 7 == 0).
    Every consumer (here, fulltext multigen entries, plan audit) goes
    through this function so a layout/version bump cannot desync them."""
    import hashlib
    import shutil

    from search_replica_spark.config import IndexConfig
    from search_replica_spark.operators.fulltext import _corpus_from_documents
    from search_replica_spark.streaming.incremental import _load_gens, add_generation

    tag = hashlib.sha1(sf_dir.encode()).hexdigest()[:10]
    idx = f"/tmp/ssr_harness_cdc_{tag}_v3"
    cfg = IndexConfig(shuffle_partitions=8)
    if len(_load_gens(idx)) != 2:
        shutil.rmtree(idx, ignore_errors=True)
        corpus = _corpus_from_documents(spark, sf_dir)
        add_generation(spark, corpus, idx, cfg)
        orig_id = F.split(F.col("path"), "_").getItem(1).cast("long")
        dels = corpus.filter(orig_id % 7 == 0).withColumn("_change_type", F.lit("delete"))
        add_generation(spark, dels, idx, cfg)
    return idx


@register("cdc_delete_live_docs", "SELECT doc_id FROM documents WHERE doc_id % 7 <> 0")
def cdc_delete_live_docs(spark, sf_dir):
    import os

    from search_replica_spark.streaming.incremental import MultiGenReader

    idx = cdc_index_dir(spark, sf_dir)
    mg = MultiGenReader(spark, idx)
    _, doc_ids = mg.doc_arrays()
    live_ids = [(int(x),) for x in mg._live.drop_dead(doc_ids)]
    live_df = spark.createDataFrame(live_ids, "doc_id long")
    docs = spark.read.parquet(os.path.join(mg.live_gens[0]["dir"], "docs")).select(
        "doc_id", "path"
    )
    return docs.join(live_df, "doc_id").select(
        F.split(F.col("path"), "_").getItem(1).cast("long").alias("doc_id")
    )


# P17/B9 engine form of the partial update: run the REAL generational
# engine with stored _source (IndexConfig.store_source) — gen 0 indexes
# every document, gen 1 is a `_change_type='update_partial'` batch that
# changes ONLY lang for doc_id % 7 == 3 (content/commit null = unchanged).
# add_generation resolves the partials against the gen-0 stored _source
# (get → merge → reindex, exactly ES's `_update {"doc": ...}` path,
# reference postgres/table.go:143-151) and the re-indexed docs supersede
# their gen-0 versions. Reading source_view back must show the new lang
# with the ORIGINAL text — proving unchanged columns survived the merge.
def pud_index_dir(spark, sf_dir) -> str:
    """Build-once-and-return-path for the 2-generation PARTIAL-UPDATE
    harness index (gen 0 = all documents with stored _source, gen 1 =
    lang-only partial updates for doc_id % 7 == 3)."""
    import hashlib
    import shutil

    from search_replica_spark.config import IndexConfig
    from search_replica_spark.operators.fulltext import _corpus_from_documents
    from search_replica_spark.streaming.incremental import _load_gens, add_generation

    tag = hashlib.sha1(sf_dir.encode()).hexdigest()[:10]
    idx = f"/tmp/ssr_harness_pud_{tag}_v2"
    cfg = IndexConfig(shuffle_partitions=8, store_source=True)
    if len(_load_gens(idx)) != 2:
        shutil.rmtree(idx, ignore_errors=True)
        corpus = _corpus_from_documents(spark, sf_dir)
        add_generation(spark, corpus, idx, cfg)
        orig_id = F.split(F.col("path"), "_").getItem(1).cast("long")
        nulls = F.lit(None).cast("string")
        partials = corpus.filter(orig_id % 7 == 3).select(
            "repo", "path", nulls.alias("commit"),
            F.lit("xx").alias("lang"), nulls.alias("content"),
            F.lit("update_partial").alias("_change_type"),
        )
        add_generation(spark, partials, idx, cfg)
    return idx


# B9/inline streamed maintenance: run the REAL engine through two child-CDC
# batches against a parent index whose docs carry an `inlined` array column
# (reference: postgres/inline.go:111-170 live painless denormalization,
# search/scripts/inline_add.painless / inline_del.painless; asserted by
# demo/consistency_test.go:60-69). Batch 1 inserts two children per even
# parent; batch 2 replaces one child's value (parents % 4 == 0) and deletes
# the other (parents % 6 == 0). The oracle recomputes the FINAL arrays from
# the same deterministic child spec — matching it proves replace-by-key,
# append, and remove-or-noop element semantics end-to-end.
def inl_index_dir(spark, sf_dir) -> str:
    """Build-once 3-generation inline-maintenance harness index (gen 0 =
    parents with empty arrays, gens 1-2 = streamed child batches)."""
    import hashlib
    import shutil

    from search_replica_spark.config import IndexConfig
    from search_replica_spark.operators.fulltext import _corpus_from_documents
    from search_replica_spark.streaming.incremental import (
        _load_gens,
        add_generation,
        apply_inline_updates,
    )

    tag = hashlib.sha1(sf_dir.encode()).hexdigest()[:10]
    idx = f"/tmp/ssr_harness_inl_{tag}_v2"
    cfg = IndexConfig(
        shuffle_partitions=8, store_source=True,
        input_columns=("repo", "path", "commit", "lang", "content", "inlined"),
    )
    if len(_load_gens(idx)) != 3:
        shutil.rmtree(idx, ignore_errors=True)
        corpus = _corpus_from_documents(spark, sf_dir).withColumn(
            "inlined", F.array().cast("array<struct<ck:long,value:string>>")
        )
        add_generation(spark, corpus, idx, cfg)
        d = load(spark, sf_dir, "documents")
        pkey = [
            F.col("source").alias("repo"),
            F.concat(F.lit("doc_"), F.col("doc_id").cast("string")).alias("path"),
        ]
        ev = d.filter(F.col("doc_id") % 2 == 0)
        b1 = ev.select(
            *pkey, (F.col("doc_id") * 10).alias("ck"), F.col("lang").alias("value")
        ).unionByName(
            ev.select(
                *pkey, (F.col("doc_id") * 10 + 1).alias("ck"),
                F.col("source").alias("value"),
            )
        )
        apply_inline_updates(spark, b1, idx, cfg)
        upd = ev.filter(F.col("doc_id") % 4 == 0).select(
            *pkey, (F.col("doc_id") * 10).alias("ck"),
            F.concat(F.col("lang"), F.lit("!")).alias("value"),
            F.lit(None).cast("string").alias("_change_type"),
        )
        dels = ev.filter(F.col("doc_id") % 6 == 0).select(
            *pkey, (F.col("doc_id") * 10 + 1).alias("ck"),
            F.lit(None).cast("string").alias("value"),
            F.lit("delete").alias("_change_type"),
        )
        apply_inline_updates(spark, upd.unionByName(dels), idx, cfg)
    return idx


@register(
    "cdc_inline_upsert",
    """WITH ch AS (
         SELECT doc_id, doc_id * 10 AS ck,
                CASE WHEN doc_id % 4 = 0 THEN lang || '!' ELSE lang END AS value
         FROM documents WHERE doc_id % 2 = 0
         UNION ALL
         SELECT doc_id, doc_id * 10 + 1, source FROM documents
         WHERE doc_id % 2 = 0 AND doc_id % 6 <> 0
       )
       SELECT d.doc_id,
              coalesce(string_agg(ch.ck || ':' || ch.value, ',' ORDER BY ch.ck),
                       '') AS inline
       FROM documents d LEFT JOIN ch USING (doc_id)
       GROUP BY d.doc_id""",
)
def cdc_inline_upsert(spark, sf_dir):
    from search_replica_spark.streaming.incremental import source_view

    sv = source_view(spark, inl_index_dir(spark, sf_dir))
    return sv.select(
        F.split(F.col("path"), "_").getItem(1).cast("long").alias("doc_id"),
        F.array_join(
            F.transform(
                F.sort_array(F.col("inlined")),
                lambda e: F.concat_ws(":", e["ck"].cast("string"), e["value"]),
            ),
            ",",
        ).alias("inline"),
    )


# inline_add_map.painless parity: the parent field is a MAP keyed by
# String(pk) instead of an array. Same engine path (field_kind='map'),
# different deterministic child spec: odd parents get child ck=d*10+5
# (value=lang); batch 2 overwrites it for d % 5 == 0 and deletes it for
# d % 9 == 0. Output flattens the map to a sorted "ck:value" string so the
# DuckDB twin is hash-exact.
def inl_map_index_dir(spark, sf_dir) -> str:
    import hashlib
    import shutil

    from search_replica_spark.config import IndexConfig
    from search_replica_spark.operators.fulltext import _corpus_from_documents
    from search_replica_spark.streaming.incremental import (
        _load_gens,
        add_generation,
        apply_inline_updates,
    )

    tag = hashlib.sha1(sf_dir.encode()).hexdigest()[:10]
    idx = f"/tmp/ssr_harness_inlmap_{tag}_v2"
    cfg = IndexConfig(
        shuffle_partitions=8, store_source=True,
        input_columns=("repo", "path", "commit", "lang", "content", "inlined"),
    )
    if len(_load_gens(idx)) != 3:
        shutil.rmtree(idx, ignore_errors=True)
        corpus = _corpus_from_documents(spark, sf_dir).withColumn(
            "inlined",
            F.expr("map()").cast("map<string, struct<ck:long, value:string>>"),
        )
        add_generation(spark, corpus, idx, cfg)
        d = load(spark, sf_dir, "documents")
        pkey = [
            F.col("source").alias("repo"),
            F.concat(F.lit("doc_"), F.col("doc_id").cast("string")).alias("path"),
        ]
        odd = d.filter(F.col("doc_id") % 2 == 1)
        b1 = odd.select(
            *pkey, (F.col("doc_id") * 10 + 5).alias("ck"),
            F.col("lang").alias("value"),
        )
        apply_inline_updates(spark, b1, idx, cfg, field_kind="map")
        # % 9 parents are deletes — exclude them from the update set so no
        # (parent, ck) key gets two unordered events in one batch
        upd = odd.filter(
            (F.col("doc_id") % 5 == 0) & (F.col("doc_id") % 9 != 0)
        ).select(
            *pkey, (F.col("doc_id") * 10 + 5).alias("ck"),
            F.concat(F.col("lang"), F.lit("?")).alias("value"),
            F.lit(None).cast("string").alias("_change_type"),
        )
        dels = odd.filter(F.col("doc_id") % 9 == 0).select(
            *pkey, (F.col("doc_id") * 10 + 5).alias("ck"),
            F.lit(None).cast("string").alias("value"),
            F.lit("delete").alias("_change_type"),
        )
        apply_inline_updates(spark, upd.unionByName(dels), idx, cfg,
                             field_kind="map")
    return idx


@register(
    "cdc_inline_upsert_map",
    """WITH ch AS (
         SELECT doc_id, doc_id * 10 + 5 AS ck,
                CASE WHEN doc_id % 5 = 0 THEN lang || '?' ELSE lang END AS value
         FROM documents WHERE doc_id % 2 = 1 AND doc_id % 9 <> 0
       )
       SELECT d.doc_id,
              coalesce(string_agg(ch.ck || ':' || ch.value, ',' ORDER BY ch.ck),
                       '') AS inline
       FROM documents d LEFT JOIN ch USING (doc_id)
       GROUP BY d.doc_id""",
)
def cdc_inline_upsert_map(spark, sf_dir):
    from search_replica_spark.streaming.incremental import source_view

    sv = source_view(spark, inl_map_index_dir(spark, sf_dir))
    elems = F.sort_array(
        F.transform(F.map_entries(F.col("inlined")), lambda e: e["value"])
    )
    return sv.select(
        F.split(F.col("path"), "_").getItem(1).cast("long").alias("doc_id"),
        F.array_join(
            F.transform(
                elems,
                lambda e: F.concat_ws(":", e["ck"].cast("string"), e["value"]),
            ),
            ",",
        ).alias("inline"),
    )


@register(
    "cdc_partial_update_source",
    """SELECT doc_id,
              CASE WHEN doc_id % 7 = 3 THEN 'xx' ELSE lang END AS lang,
              text FROM documents""",
)
def cdc_partial_update_source(spark, sf_dir):
    from search_replica_spark.streaming.incremental import source_view

    cur = source_view(spark, pud_index_dir(spark, sf_dir))
    return cur.select(
        F.split(F.col("path"), "_").getItem(1).cast("long").alias("doc_id"),
        "lang",
        F.col("content").alias("text"),
    )
