"""search_replica_spark — a PySpark-native fulltext indexing + BM25 query engine.

A from-scratch re-expression of the capabilities of pg2es/search-replica
(reference at /root/reference, Go): the row→document indexing dataflow
(reference: postgres/reindex.go, postgres/table.go) PLUS the search-side
semantics the reference delegates to Elasticsearch 7.10.2 (inverted index,
BM25 top-k, parent/child, nested queries — reference: demo/mapping.json,
demo/README.md).

Architecture is Spark-first, not a port:
  - corpus           deterministic synthetic source-code corpus (test input)
  - analysis         code-aware tokenizer (vectorized pandas, Arrow UDF)
  - index            posting-list build: tokenize → local postings →
                     range-shuffle by term_id → format-2 parquet postings,
                     one (term_id, doc_idx, tf) row per posting
  - query            BM25 scoring: one in-driver NumPy scorer (/_search,
                     the CLI's query) + one distributed Spark plan
  - operators        the DuckDB-checked harness entries: row→doc transform,
                     full-text, CDC, knn
  - oracle           pure-Python reference engine (plays the role ES plays
                     for the reference's consistency test)
  - streaming        incremental / CDC-style index maintenance
"""

__version__ = "0.1.0"

K1 = 1.2  # ES 7.x default BM25 k1 (reference sets no similarity override
B = 0.75  # in demo/mapping.json:38-44, so Lucene defaults apply)
