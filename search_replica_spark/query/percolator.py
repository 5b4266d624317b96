"""ES percolator: register queries against an index, then match incoming
DOCUMENTS against them (reverse search — the alerting/saved-search
primitive ES exposes as a ``percolate`` query over a query-holding
index).

Store layout: ``<index_dir>/percolator/queries`` — one parquet of
(query_id, term, nt, min_match) rows, the registered query analyzed with
the SAME build tokenizer as the index (ES analyzes percolator queries
with the target field's analyzer the same way). A registered query is a
conjunctive term set by default (min_match = all terms), optionally
relaxed with ``minimum_should_match`` — the same spec the harness-
verified ``percolate_matches`` operator proves at corpus scale.

Serving shape: percolating ONE document reads the (tiny) query table in
the driver and intersects term sets there — no Spark job, no session.
Percolating a whole corpus is the broadcast equi-join + count gate of
``operators/fulltext.py:percolate_matches`` — the store here feeds both.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from search_replica_spark.analysis import tokenize_text
from search_replica_spark.query.store import read_table


def percolator_dir(index_dir: str) -> str:
    return os.path.join(index_dir, "percolator", "queries")


def register_queries(spark, index_dir: str, queries: list[tuple]) -> dict:
    """Register percolator queries: ``queries`` is a list of
    (query_id, query_text[, minimum_should_match]) tuples. The text is
    analyzed with the build tokenizer; min_match defaults to ALL analyzed
    terms (ES's conjunctive operator:and registration). Overwrites the
    whole store atomically (parquet overwrite) — re-registering is how ES
    updates percolator docs too (index into the query index)."""
    rows = []
    for q in queries:
        qid, text = int(q[0]), str(q[1])
        terms = sorted(set(tokenize_text(text)))
        if not terms:
            raise ValueError(f"percolator query {qid} analyzes to no terms")
        mm = int(q[2]) if len(q) > 2 and q[2] is not None else len(terms)
        for t in terms:
            rows.append((qid, t, len(terms), mm))
    df = spark.createDataFrame(
        rows, "query_id long, term string, nt int, min_match int"
    )
    df.coalesce(1).write.mode("overwrite").parquet(percolator_dir(index_dir))
    return {"queries": len({r[0] for r in rows}), "terms": len(rows)}


def percolate(index_dir: str, document) -> list[tuple[int, float]]:
    """The queries matching ONE document: (query_id, 1.0) constant-score,
    query_id ascending (ES returns percolator hits at constant score too).
    ``document`` is the text of the analyzed default field or an ES-style
    ``{"content": ...}`` dict. The query table is read in the driver with
    no Spark job (``read_table``)."""
    text = document.get("content") if isinstance(document, dict) else document
    toks = set(tokenize_text(str(text or "")))
    pdf = read_table(percolator_dir(index_dir), ["query_id", "term", "min_match"]).to_pandas()
    hits = []
    for qid, g in pdf.groupby("query_id"):
        mm = int(g["min_match"].iloc[0])
        matched = sum(1 for t in g["term"] if t in toks)
        if matched >= mm:
            hits.append((int(qid), 1.0))
    return sorted(hits)


def percolate_corpus(spark, index_dir: str, docs_df, text_col: str = "content"):
    """Batch form: every (query_id, doc_id) pair where the doc percolates
    the registered query — the broadcast equi-join + per-(query, doc)
    count gate (one corpus pass regardless of query count)."""
    q = spark.read.parquet(percolator_dir(index_dir))
    tok = docs_df.select(
        "doc_id", F.explode(F.split(F.lower(F.col(text_col)), " ")).alias("term")
    ).distinct()
    m = (
        tok.join(F.broadcast(q), "term")
        .groupBy("query_id", "doc_id", "min_match")
        .agg(F.count("*").alias("hit"))
    )
    return m.where(F.col("hit") >= F.col("min_match")).select("query_id", "doc_id")


def percolate_stream(
    spark,
    input_dir: str,
    index_dir: str,
    out_dir: str,
    schema: str,
    trigger: dict | None = None,
    text_col: str = "content",
    id_col: str = "doc_id",
):
    """The percolator ALERTING loop (what ES users run percolate for):
    documents stream in, every micro-batch percolates against the
    registered query store, and the (query_id, doc_id) alert pairs land
    under ``out_dir/alerts/epoch=<batch>`` — overwrite-per-epoch, so an
    at-least-once replay of a batch rewrites the same directory instead
    of duplicating alerts (the same exactly-once idiom the index stream
    uses). Queries re-read per batch: a re-registration applies from the
    next batch, ES's refresh-visibility semantics. Returns the streaming
    query (caller awaits/stops)."""
    import os

    from pyspark.sql import functions as F

    src = spark.readStream.schema(schema).parquet(input_dir)

    def _batch(batch_df, epoch_id: int):
        docs = batch_df.select(
            F.col(id_col).alias("doc_id"), F.col(text_col).alias(text_col)
        )
        hits = percolate_corpus(spark, index_dir, docs, text_col=text_col)
        hits.write.mode("overwrite").parquet(
            os.path.join(out_dir, "alerts", f"epoch={int(epoch_id)}")
        )

    writer = (
        src.writeStream.foreachBatch(_batch)
        .option("checkpointLocation", os.path.join(out_dir, "_checkpoint"))
    )
    trigger = trigger or {"availableNow": True}
    return writer.trigger(**trigger).start()


def read_alerts(spark, out_dir: str):
    """All emitted alert pairs (query_id, doc_id, epoch)."""
    import os

    return spark.read.option("basePath", os.path.join(out_dir, "alerts")).parquet(
        os.path.join(out_dir, "alerts", "epoch=*")
    )
