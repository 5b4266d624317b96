"""Search-side operators over the driver's ``documents`` table (SURVEY §2B).

``documents.text`` is strictly lowercase ``[a-z0-9 ]`` single-spaced, so the
engine's tokenizer degenerates to whitespace split there — which makes every
entry SQL-expressible in DuckDB (``unnest(string_split(text, ' '))``). The
index-backed entries build a REAL index (postings + dict + docs) via
``build_index`` and compare its contents/results against SQL recomputation:
the driver-run analogue of our rank-identity pytest gate.
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import functions as F

from search_replica_spark.operators import load, register

BM25_QUERY_TERMS = ("spark", "join", "window")
K1, B = 1.2, 0.75

# shared DuckDB CTE prelude: tokenize documents
_TOK = "SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents"


def _corpus_from_documents(spark, sf_dir):
    """Map the documents table onto the engine's input contract
    (BASELINE.json#input_hint): repo,path,commit,lang,content."""
    d = load(spark, sf_dir, "documents")
    return d.select(
        F.col("source").alias("repo"),
        F.concat(F.lit("doc_"), F.col("doc_id").cast("string")).alias("path"),
        F.lit("0" * 40).alias("commit"),
        F.col("lang"),
        F.col("text").alias("content"),
    )


def _index_dir_for(spark, sf_dir) -> str:
    """Build (once per sf_dir) a real index over documents; return its dir."""
    from search_replica_spark.config import IndexConfig
    from search_replica_spark.index.build import build_index

    tag = hashlib.sha1(sf_dir.encode()).hexdigest()[:10]
    # v3: + stored _source (content rides in docs/ for highlight/GET entries)
    out = f"/tmp/ssr_harness_idx_{tag}_v4"
    if not os.path.exists(os.path.join(out, "stats.json")):
        build_index(
            spark,
            _corpus_from_documents(spark, sf_dir),
            out,
            IndexConfig(shuffle_partitions=8, store_source=True),
        )
    return out


# B3: doc-frequency statistics (ES-internal; our groupBy aggregation).
@register(
    "ft_df_stats",
    f"""SELECT term, count(DISTINCT doc_id) AS df
        FROM ({_TOK}) GROUP BY term""",
)
def ft_df_stats(spark, sf_dir):
    # explode the per-doc DISTINCT token set (each doc's terms live in one
    # row, so array_distinct dedups before anything moves) — the groupBy
    # then partial-aggregates plain counts instead of running
    # countDistinct's two-phase distinct aggregation over all occurrences
    d = load(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.explode(F.array_distinct(F.split("text", " "))).alias("term")
    )
    return tok.groupBy("term").agg(F.count("*").alias("df"))


# B4: term dictionary — read back from the BUILT index and compare to SQL
# recomputation (proves segment/dict construction, not just a plan).
@register(
    "ft_index_dict",
    f"""SELECT term, count(DISTINCT doc_id) AS df
        FROM ({_TOK}) GROUP BY term""",
)
def ft_index_dict(spark, sf_dir):
    idx = _index_dir_for(spark, sf_dir)
    return spark.read.parquet(os.path.join(idx, "dict")).select("term", "df")


# B2 invariant: the built postings table holds exactly the (term, doc, tf)
# multiset of the source text — checked as per-term posting count and tf
# sum, compared to SQL.
@register(
    "ft_segment_postings",
    f"""SELECT term, count(DISTINCT doc_id) AS postings, count(*) AS total_tf
        FROM ({_TOK}) GROUP BY term""",
)
def ft_segment_postings(spark, sf_dir):
    idx = _index_dir_for(spark, sf_dir)
    terms = spark.read.parquet(os.path.join(idx, "dict")).select("term", "term_id")
    return (
        spark.read.parquet(os.path.join(idx, "postings"))
        .join(terms, "term_id")
        .groupBy("term")
        .agg(F.count("*").alias("postings"), F.sum("tf").alias("total_tf"))
    )


PHRASE_TERMS = ("table", "hash")  # a real consecutive bigram in documents

BOOL_MUST, BOOL_SHOULD, BOOL_MUST_NOT = ("spark",), ("join", "window"), ("hash",)


def _bool_sql(limit: int) -> str:
    """DuckDB twin of bool_topk: sum of BM25 contributions of matched
    must/should terms, must required, must_not excluded (ES bool query)."""
    scoring = ", ".join(f"'{t}'" for t in sorted(set(BOOL_MUST) | set(BOOL_SHOULD)))
    must_pred = " AND ".join(
        f"EXISTS (SELECT 1 FROM tok m WHERE m.doc_id = sc.doc_id AND m.term = '{t}')"
        for t in BOOL_MUST
    )
    not_pred = " AND ".join(
        f"NOT EXISTS (SELECT 1 FROM tok x WHERE x.doc_id = sc.doc_id AND x.term = '{t}')"
        for t in BOOL_MUST_NOT
    )
    return f"""
WITH tok AS ({_TOK}),
dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
stats AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM dl),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok
       WHERE term IN ({scoring}) GROUP BY doc_id, term),
df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
sc AS (SELECT tf.doc_id,
              sum( ln(1 + (stats.n - df.df + 0.5) / (df.df + 0.5))
                   * tf.tf / (tf.tf + {K1} * (1 - {B} + {B} * dl.dl / stats.avgdl)) ) AS s
       FROM tf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
       GROUP BY tf.doc_id)
SELECT doc_id, round(s, 6) AS score FROM sc
WHERE {must_pred} AND {not_pred}
ORDER BY s DESC, doc_id LIMIT {limit}
"""


# B5h: ES bool query (must / should / must_not term clauses).
@register("ft_bm25_bool_top10", _bool_sql(10))
def ft_bm25_bool_top10(spark, sf_dir):
    from search_replica_spark.query.bm25 import bool_topk

    idx = _index_dir_for(spark, sf_dir)
    hits = bool_topk(
        _OrigIdReader(spark, idx),
        must=list(BOOL_MUST), should=list(BOOL_SHOULD), must_not=list(BOOL_MUST_NOT),
        k=10,
    )
    rows = [(d, round(s, 6)) for d, s in hits]
    return spark.createDataFrame(rows, "doc_id long, score double")


# B5i: ES prefix query (constant-score term expansion from the dict).
# max_expansions=None = the uncapped rewrite, so the plain-LIKE oracle is an
# exact twin; the expansion CAP is pytest-covered (test_round3).
@register(
    "ft_prefix_match",
    f"SELECT DISTINCT doc_id FROM ({_TOK}) WHERE term LIKE 'sp%'",
)
def ft_prefix_match(spark, sf_dir):
    from search_replica_spark.query.bm25 import prefix_match

    idx = _index_dir_for(spark, sf_dir)
    ids = prefix_match(_OrigIdReader(spark, idx), "sp", max_expansions=None)
    return spark.createDataFrame([(d,) for d in ids], "doc_id long")


# B5j: prefix query over a GENERATIONAL index with streamed deletes — the
# expansion unions per-generation dictionaries and the liveness mask hides
# tombstoned docs (reuses the cdc harness index: gen 1 tombstones
# doc_id % 7 == 0). Engine ids map back to source ids via a broadcast join
# of the (small) hit list into the docs scan.
@register(
    "ft_prefix_multigen",
    f"""SELECT DISTINCT doc_id FROM ({_TOK})
        WHERE term LIKE 'sp%' AND doc_id % 7 <> 0""",
)
def ft_prefix_multigen(spark, sf_dir):
    from search_replica_spark.operators.streaming_ops import cdc_index_dir
    from search_replica_spark.query.bm25 import prefix_match
    from search_replica_spark.streaming.incremental import MultiGenReader

    idx = cdc_index_dir(spark, sf_dir)
    ids = prefix_match(MultiGenReader(spark, idx), "sp", max_expansions=None)
    hit = spark.createDataFrame([(d,) for d in ids], "doc_id long")
    docs = spark.read.parquet(os.path.join(idx, "gen=0", "docs")).select("doc_id", "path")
    return docs.join(F.broadcast(hit), "doc_id").select(
        F.split("path", "_").getItem(1).cast("long").alias("doc_id")
    )


# B5m: ES fuzzy query — edit-distance term expansion from the dict
# (prefix_length=1 pins the range seek; fuzziness=2, levenshtein is
# identical in both engines), constant-score doc set.
@register(
    "ft_fuzzy_match",
    f"""WITH tok AS ({_TOK}),
        exp AS (SELECT term FROM (SELECT DISTINCT term FROM tok
                WHERE term LIKE 's%' AND levenshtein(term, 'smal') <= 2
                ORDER BY term LIMIT 50))
        SELECT DISTINCT doc_id FROM tok WHERE term IN (SELECT term FROM exp)""",
)
def ft_fuzzy_match(spark, sf_dir):
    from search_replica_spark.query.bm25 import fuzzy_match

    idx = _index_dir_for(spark, sf_dir)
    ids = fuzzy_match(_OrigIdReader(spark, idx), "smal", fuzziness=2, prefix_length=1)
    return spark.createDataFrame([(d,) for d in ids], "doc_id long")


# B5n: ES wildcard query — * / ? translate verbatim to SQL LIKE % / _;
# the fixed prefix drives the dict range seek.
@register(
    "ft_wildcard_match",
    f"""WITH tok AS ({_TOK}),
        exp AS (SELECT term FROM (SELECT DISTINCT term FROM tok
                WHERE term LIKE 's%a%' ORDER BY term LIMIT 50))
        SELECT DISTINCT doc_id FROM tok WHERE term IN (SELECT term FROM exp)""",
)
def ft_wildcard_match(spark, sf_dir):
    from search_replica_spark.query.bm25 import wildcard_match

    idx = _index_dir_for(spark, sf_dir)
    ids = wildcard_match(_OrigIdReader(spark, idx), "s*a*")
    return spark.createDataFrame([(d,) for d in ids], "doc_id long")


# B5o: ES match_phrase_prefix — fixed terms at consecutive positions
# immediately followed by any expansion of the trailing prefix (expansion
# capped in term order, ES's own cap for this query). Positional index.
@register(
    "ft_match_phrase_prefix",
    """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term,
                           generate_subscripts(string_split(text, ' '), 1) AS ord
                    FROM documents),
       exp AS (SELECT term FROM (SELECT DISTINCT term FROM tok
               WHERE term LIKE 'ha%' ORDER BY term LIMIT 50))
       SELECT DISTINCT a.doc_id
       FROM tok a JOIN tok b ON b.doc_id = a.doc_id AND b.ord = a.ord + 1
       WHERE a.term = 'table' AND b.term IN (SELECT term FROM exp)""",
)
def ft_match_phrase_prefix(spark, sf_dir):
    from search_replica_spark.query.bm25 import match_phrase_prefix

    idx = _positional_index_dir_for(spark, sf_dir)
    ids = match_phrase_prefix(_OrigIdReader(spark, idx), "table ha")
    return spark.createDataFrame([(d,) for d in ids], "doc_id long")


def _phrase_sql(limit: int) -> str:
    """DuckDB twin of phrase_topk (Lucene PhraseQuery semantics): match =
    consecutive positions, tf = phrase frequency, idf = sum of term idfs."""
    t0, t1 = PHRASE_TERMS
    return f"""
WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term,
                    generate_subscripts(string_split(text, ' '), 1) AS ord
             FROM documents),
dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
stats AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM dl),
df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok
       WHERE term IN ('{t0}', '{t1}') GROUP BY term),
idfsum AS (SELECT sum(ln(1 + (stats.n - df.df + 0.5) / (df.df + 0.5))) AS v
           FROM df CROSS JOIN stats),
ph AS (SELECT a.doc_id, count(*) AS ptf
       FROM tok a JOIN tok b ON b.doc_id = a.doc_id AND b.ord = a.ord + 1
       WHERE a.term = '{t0}' AND b.term = '{t1}' GROUP BY a.doc_id)
SELECT ph.doc_id,
       round(idfsum.v * ph.ptf
             / (ph.ptf + {K1} * (1 - {B} + {B} * dl.dl / stats.avgdl)), 6) AS score
FROM ph JOIN dl USING (doc_id) CROSS JOIN stats CROSS JOIN idfsum
ORDER BY idfsum.v * ph.ptf / (ph.ptf + {K1} * (1 - {B} + {B} * dl.dl / stats.avgdl)) DESC,
         ph.doc_id
LIMIT {limit}
"""


def _positional_index_dir_for(spark, sf_dir) -> str:
    """Build (once per sf_dir) a POSITIONAL index over documents."""
    from search_replica_spark.config import IndexConfig
    from search_replica_spark.index.build import build_index

    tag = hashlib.sha1(sf_dir.encode()).hexdigest()[:10]
    out = f"/tmp/ssr_harness_pidx_{tag}_v3"
    if not os.path.exists(os.path.join(out, "stats.json")):
        build_index(
            spark,
            _corpus_from_documents(spark, sf_dir),
            out,
            IndexConfig(shuffle_partitions=8,
                        store_positions=True),
        )
    return out


# B5f: exact PHRASE query (Lucene PhraseQuery) over a positional index —
# consecutive-position match, phrase-frequency tf, summed idfs.
@register("ft_bm25_phrase_top10", _phrase_sql(10))
def ft_bm25_phrase_top10(spark, sf_dir):
    from search_replica_spark.query.bm25 import phrase_topk

    idx = _positional_index_dir_for(spark, sf_dir)
    hits = phrase_topk(_OrigIdReader(spark, idx), " ".join(PHRASE_TERMS), 10)
    rows = [(d, round(s, 6)) for d, s in hits]
    return spark.createDataFrame(rows, "doc_id long, score double")


def _phrase_slop_sql(limit: int, slop: int = 1) -> str:
    """DuckDB twin of phrase_topk(slop>0) — nearest-occurrence proximity:
    m(p0) = min displacement of the second term from p0+1, weight 1/(m+1)
    for m <= slop (dyadic for slop<=1, so float sums are order-independent)."""
    t0, t1 = PHRASE_TERMS
    return f"""
WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term,
                    generate_subscripts(string_split(text, ' '), 1) AS ord
             FROM documents),
dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
stats AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM dl),
df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok
       WHERE term IN ('{t0}', '{t1}') GROUP BY term),
idfsum AS (SELECT sum(ln(1 + (stats.n - df.df + 0.5) / (df.df + 0.5))) AS v
           FROM df CROSS JOIN stats),
near AS (SELECT a.doc_id, a.ord AS p0, min(abs(b.ord - a.ord - 1)) AS m
         FROM tok a JOIN tok b ON b.doc_id = a.doc_id
         WHERE a.term = '{t0}' AND b.term = '{t1}'
         GROUP BY a.doc_id, a.ord),
ptf AS (SELECT doc_id, sum(1.0 / (m + 1)) AS ptf FROM near
        WHERE m <= {slop} GROUP BY doc_id)
SELECT ptf.doc_id,
       round(idfsum.v * ptf.ptf
             / (ptf.ptf + {K1} * (1 - {B} + {B} * dl.dl / stats.avgdl)), 6) AS score
FROM ptf JOIN dl USING (doc_id) CROSS JOIN stats CROSS JOIN idfsum
ORDER BY idfsum.v * ptf.ptf / (ptf.ptf + {K1} * (1 - {B} + {B} * dl.dl / stats.avgdl)) DESC,
         ptf.doc_id
LIMIT {limit}
"""


# B5g: proximity (sloppy phrase) query, slop=1, same positional index.
@register("ft_bm25_phrase_slop_top10", _phrase_slop_sql(10, slop=1))
def ft_bm25_phrase_slop_top10(spark, sf_dir):
    from search_replica_spark.query.bm25 import phrase_topk

    idx = _positional_index_dir_for(spark, sf_dir)
    hits = phrase_topk(_OrigIdReader(spark, idx), " ".join(PHRASE_TERMS), 10, slop=1)
    rows = [(d, round(s, 6)) for d, s in hits]
    return spark.createDataFrame(rows, "doc_id long, score double")


SPAN_TERMS = ("row", "scan", "batch")  # ordered 3-term chain; slop below
SPAN_SLOP = 3


def _span_near_sql(limit: int) -> str:
    """DuckDB twin of span_near_topk (ordered): greedy forward chain — for
    each occurrence p0 of the first term take the FIRST later occurrence of
    the second (p1), then the first occurrence of the third after p1 (p2);
    width = p2−p0−2, weight 1/(width+1) for width ≤ slop, BM25 over the
    weight sum with summed idfs (same scoring family as the phrase twins)."""
    t0, t1, t2 = SPAN_TERMS
    terms_in = ", ".join(f"'{t}'" for t in sorted(set(SPAN_TERMS)))
    return f"""
WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term,
                    generate_subscripts(string_split(text, ' '), 1) AS ord
             FROM documents),
dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
stats AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM dl),
df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok
       WHERE term IN ({terms_in}) GROUP BY term),
idfsum AS (SELECT sum(ln(1 + (stats.n - df.df + 0.5) / (df.df + 0.5))) AS v
           FROM df CROSS JOIN stats),
a AS (SELECT doc_id, ord FROM tok WHERE term = '{t0}'),
b AS (SELECT doc_id, ord FROM tok WHERE term = '{t1}'),
c AS (SELECT doc_id, ord FROM tok WHERE term = '{t2}'),
s1 AS (SELECT a.doc_id, a.ord AS p0, min(b.ord) AS p1
       FROM a JOIN b ON b.doc_id = a.doc_id AND b.ord > a.ord
       GROUP BY a.doc_id, a.ord),
s2 AS (SELECT s1.doc_id, s1.p0, min(c.ord) AS p2
       FROM s1 JOIN c ON c.doc_id = s1.doc_id AND c.ord > s1.p1
       GROUP BY s1.doc_id, s1.p0),
ptf AS (SELECT doc_id, sum(1.0 / (p2 - p0 - 2 + 1)) AS ptf FROM s2
        WHERE p2 - p0 - 2 <= {SPAN_SLOP} GROUP BY doc_id)
SELECT ptf.doc_id,
       round(idfsum.v * ptf.ptf
             / (ptf.ptf + {K1} * (1 - {B} + {B} * dl.dl / stats.avgdl)), 6) AS score
FROM ptf JOIN dl USING (doc_id) CROSS JOIN stats CROSS JOIN idfsum
ORDER BY idfsum.v * ptf.ptf / (ptf.ptf + {K1} * (1 - {B} + {B} * dl.dl / stats.avgdl)) DESC,
         ptf.doc_id
LIMIT {limit}
"""


# B5s: ES span_near (ordered, slop) — the Lucene span-query family, over
# the same positional index as the phrase entries.
@register("ft_span_near_top10", _span_near_sql(10))
def ft_span_near_top10(spark, sf_dir):
    from search_replica_spark.query.bm25 import span_near_topk

    idx = _positional_index_dir_for(spark, sf_dir)
    hits = span_near_topk(
        _OrigIdReader(spark, idx), list(SPAN_TERMS), 10, slop=SPAN_SLOP
    )
    rows = [(d, round(s, 6)) for d, s in hits]
    return spark.createDataFrame(rows, "doc_id long, score double")


SPAN_FIRST_TERM, SPAN_FIRST_END = "customer", 2  # first 2 token positions


def _span_first_sql(limit: int) -> str:
    """DuckDB twin of span_first_topk: docs whose term occurs within the
    first ``end`` positions (engine positions are 0-based, DuckDB ord is
    1-based ⇒ ord ≤ end), tf = early-occurrence count, plain BM25 term
    scoring."""
    t, end = SPAN_FIRST_TERM, SPAN_FIRST_END
    return f"""
WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term,
                    generate_subscripts(string_split(text, ' '), 1) AS ord
             FROM documents),
dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
stats AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM dl),
dfq AS (SELECT count(DISTINCT doc_id) AS df FROM tok WHERE term = '{t}'),
e AS (SELECT doc_id, count(*) AS tf FROM tok
      WHERE term = '{t}' AND ord <= {end} GROUP BY doc_id)
SELECT e.doc_id,
       round(ln(1 + (stats.n - dfq.df + 0.5) / (dfq.df + 0.5)) * e.tf
             / (e.tf + {K1} * (1 - {B} + {B} * dl.dl / stats.avgdl)), 6) AS score
FROM e JOIN dl USING (doc_id) CROSS JOIN stats CROSS JOIN dfq
ORDER BY ln(1 + (stats.n - dfq.df + 0.5) / (dfq.df + 0.5)) * e.tf
         / (e.tf + {K1} * (1 - {B} + {B} * dl.dl / stats.avgdl)) DESC,
         e.doc_id
LIMIT {limit}
"""


# B5t: ES span_first — early-position gate over the positional index.
@register("ft_span_first_top10", _span_first_sql(10))
def ft_span_first_top10(spark, sf_dir):
    from search_replica_spark.query.bm25 import span_first_topk

    idx = _positional_index_dir_for(spark, sf_dir)
    hits = span_first_topk(
        _OrigIdReader(spark, idx), SPAN_FIRST_TERM, SPAN_FIRST_END, 10
    )
    rows = [(d, round(s, 6)) for d, s in hits]
    return spark.createDataFrame(rows, "doc_id long, score double")


class _OrigIdReader:
    """IndexReader (over a plain or a generational index) whose doc_ids are
    the SOURCE doc_ids (parsed back from the indexed path column), so every
    scorer tie-break (score desc, doc_id asc) happens on the same key as the
    DuckDB oracle. Without this an exact float score tie at the top-k
    boundary could pick different docs than the oracle (the engine's hashed
    doc_id orders differently than the source id)."""

    def __new__(cls, spark, index_dir):
        import numpy as np

        from search_replica_spark.query.bm25 import IndexReader

        class Reader(IndexReader):
            def doc_arrays(self):
                if self._doc_len is None:
                    c = self._doc_columns(["path", "doc_len"])
                    self._doc_len = c["doc_len"].astype(np.float64)
                    self._doc_ids = np.array(
                        [int(p.split("_", 1)[1]) for p in c["path"]], dtype=np.int64)
                return self._doc_len, self._doc_ids

        return Reader(spark, index_dir)


def _bm25_sql(
    limit: int, tok_sql: str = _TOK, mode: str = "or", qterms: tuple = BM25_QUERY_TERMS
) -> str:
    terms = ", ".join(f"'{t}'" for t in qterms)
    having = f"HAVING count(*) = {len(qterms)}" if mode == "and" else ""
    return f"""
WITH tok AS ({tok_sql}),
dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
stats AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM dl),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok
       WHERE term IN ({terms}) GROUP BY doc_id, term),
df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
sc AS (SELECT tf.doc_id,
              sum( ln(1 + (stats.n - df.df + 0.5) / (df.df + 0.5))
                   * tf.tf / (tf.tf + {K1} * (1 - {B} + {B} * dl.dl / stats.avgdl)) ) AS s
       FROM tf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
       GROUP BY tf.doc_id {having})
SELECT doc_id, round(s, 6) AS score FROM sc
ORDER BY s DESC, doc_id LIMIT {limit}
"""


# B5a: exhaustive BM25 top-10 as a pure distributed DataFrame/SQL plan
# (no index) — ES's scoring semantics as one Catalyst-optimized query.
# Spark-side plan: the oracle's tok CTE explodes EVERY token twice (once
# for dl, once for tf); here dl = size(token array) and per-query-term tf
# = size(filter(array)) — both computed in the row the tokens already live
# in, so only |terms| tiny rows per doc ever reach an exchange. Same
# numbers: dl == count of unnested tokens (split/unnest agree on empties),
# tf rows and the score expression mirror the SQL term-for-term.
@register("ft_bm25_sql_top10", _bm25_sql(10))
def ft_bm25_sql_top10(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    dd = d.select("doc_id", F.split("text", " ").alias("arr")).withColumn(
        "dl", F.size("arr")
    )
    stats = dd.agg(F.count("*").alias("n"), F.avg("dl").alias("avgdl"))
    tf_structs = [
        F.struct(
            F.lit(t).alias("term"),
            F.size(F.filter(F.col("arr"), lambda x: x == F.lit(t))).alias("tf"),
        )
        for t in BM25_QUERY_TERMS
    ]
    tf = (
        dd.select("doc_id", "dl", F.explode(F.array(*tf_structs)).alias("t"))
        .select("doc_id", "dl", F.col("t.term").alias("term"), F.col("t.tf").alias("tf"))
        .filter(F.col("tf") > 0)
    )
    df_tbl = tf.groupBy("term").agg(F.count("*").alias("df"))
    sc = (
        tf.join(F.broadcast(df_tbl), "term")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "contrib",
            F.log(F.lit(1) + (F.col("n") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5)))
            * F.col("tf")
            / (
                F.col("tf")
                + F.lit(K1)
                * (F.lit(1) - F.lit(B) + F.lit(B) * F.col("dl") / F.col("avgdl"))
            ),
        )
        .groupBy("doc_id")
        .agg(F.sum("contrib").alias("s"))
    )
    return (
        sc.orderBy(F.col("s").desc(), F.col("doc_id").asc())
        .limit(10)
        .select("doc_id", F.round("s", 6).alias("score"))
    )


# B5b: the same top-10 answered by the REAL engine: built segments,
# varint-decoded postings, NumPy term-at-a-time scorer. Must match the
# SQL oracle exactly (score rounded to 6dp).
@register("ft_bm25_indexed_top10", _bm25_sql(10))
def ft_bm25_indexed_top10(spark, sf_dir):
    from search_replica_spark.query.bm25 import TermAtATimeScorer

    idx = _index_dir_for(spark, sf_dir)
    hits = TermAtATimeScorer(_OrigIdReader(spark, idx)).score(" ".join(BM25_QUERY_TERMS), 10)
    rows = [(d, round(s, 6)) for d, s in hits]
    return spark.createDataFrame(rows, "doc_id long, score double")


# C3/P-mapping: per-field analysis (ES mapping parity — keyword vs text,
# demo/mapping.json:22-29). Pure operator form: (doc_id, field, term, tf)
# over three mapped fields; keyword fields are the exact value, untokenized.
_FIELD_TOK = """
  SELECT doc_id, 'text' AS field, unnest(string_split(text, ' ')) AS term FROM documents
  UNION ALL SELECT doc_id, 'lang', lang FROM documents
  UNION ALL SELECT doc_id, 'source', source FROM documents
"""


@register(
    "field_analyzer_tokens",
    f"""SELECT doc_id, field, term, count(*) AS tf
        FROM ({_FIELD_TOK}) GROUP BY doc_id, field, term""",
)
def field_analyzer_tokens(spark, sf_dir):
    from search_replica_spark.analysis.fields import field_tokens

    d = load(spark, sf_dir, "documents")
    parts = [
        d.select(
            "doc_id",
            F.lit(fld).alias("field"),
            F.explode(field_tokens(fld, kind)).alias("term"),
        )
        for fld, kind in (("text", "text"), ("lang", "keyword"), ("source", "keyword"))
    ]
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    return u.groupBy("doc_id", "field", "term").agg(F.count("*").alias("tf"))


# B5l: BM25 over a FIELDED index (field_analyzers build): one index holds
# content (text analyzer) and lang (keyword) as "field:term" qualified
# terms; the query mixes a text term and a keyword term, ES
# cross-field-bool style. doc_len counts tokens across both mapped fields
# (text tokens + 1), which the oracle mirrors exactly.
_FIELDED_TOK = """
  SELECT doc_id, 'content:' || term AS term
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
  UNION ALL SELECT doc_id, 'lang:' || lang FROM documents
"""
FIELDED_QUERY_TERMS = ("content:spark", "lang:de")


def _fielded_index_dir_for(spark, sf_dir) -> str:
    from search_replica_spark.config import IndexConfig
    from search_replica_spark.index.build import build_index

    tag = hashlib.sha1(sf_dir.encode()).hexdigest()[:10]
    out = f"/tmp/ssr_harness_fidx_{tag}_v3"  # v3: format-2 postings
    if not os.path.exists(os.path.join(out, "stats.json")):
        build_index(
            spark,
            _corpus_from_documents(spark, sf_dir),
            out,
            IndexConfig(
                shuffle_partitions=8,
                field_analyzers=(("content", "text"), ("lang", "keyword")),
            ),
        )
    return out


@register(
    "ft_bm25_fielded_top10",
    _bm25_sql(10, tok_sql=_FIELDED_TOK, qterms=FIELDED_QUERY_TERMS),
)
def ft_bm25_fielded_top10(spark, sf_dir):
    from search_replica_spark.analysis.fields import field_query_terms
    from search_replica_spark.query.bm25 import TermAtATimeScorer

    idx = _fielded_index_dir_for(spark, sf_dir)
    terms = field_query_terms("content", "spark") + field_query_terms(
        "lang", "de", kind="keyword"
    )
    hits = TermAtATimeScorer(_OrigIdReader(spark, idx)).score(terms=terms, k=10)
    rows = [(d, round(s, 6)) for d, s in hits]
    return spark.createDataFrame(rows, "doc_id long, score double")


# B5p: ES multi_match, most_fields mode — the query text is analyzed PER
# FIELD (text analyzer for content, keyword for lang) and the score is the
# SUM of every matching field's BM25 contribution, which in the field:term
# space is exactly a bool/should over the per-field terms.
MULTI_MATCH_TERMS = ("content:de", "lang:de")


@register(
    "ft_multi_match_most_fields",
    _bm25_sql(10, tok_sql=_FIELDED_TOK, qterms=MULTI_MATCH_TERMS),
)
def ft_multi_match_most_fields(spark, sf_dir):
    from search_replica_spark.analysis.fields import field_query_terms
    from search_replica_spark.query.bm25 import TermAtATimeScorer

    idx = _fielded_index_dir_for(spark, sf_dir)
    terms = field_query_terms("content", "de") + field_query_terms("lang", "de", kind="keyword")
    hits = TermAtATimeScorer(_OrigIdReader(spark, idx)).score(terms=terms, k=10)
    rows = [(d, round(s, 6)) for d, s in hits]
    return spark.createDataFrame(rows, "doc_id long, score double")


# B5e: the distributed strategy over a GENERATIONAL index with streamed
# deletes (reuses the cdc harness index: gen 0 = all documents, gen 1 =
# tombstones for doc_id % 7 == 0). ES/Lucene stats semantics: N, avgdl and
# df still count tombstoned docs until merge, so the oracle computes BM25
# stats over ALL documents and only restricts the RESULT to live docs.
def _bm25_multigen_sql(limit: int) -> str:
    base = _bm25_sql(limit * 50)  # wide cut, then re-restrict below
    return f"""
WITH ranked AS ({base})
SELECT doc_id, score FROM ranked WHERE doc_id % 7 <> 0
ORDER BY score DESC, doc_id LIMIT {limit}
"""


@register("ft_bm25_multigen_top10", _bm25_multigen_sql(10))
def ft_bm25_multigen_top10(spark, sf_dir):
    from search_replica_spark.operators.streaming_ops import cdc_index_dir
    from search_replica_spark.streaming.incremental import bm25_topk_spark_multigen

    idx = cdc_index_dir(spark, sf_dir)
    top = bm25_topk_spark_multigen(spark, idx, " ".join(BM25_QUERY_TERMS), 40)
    # map engine ids -> source ids by broadcasting the k-row top list INTO
    # the docs scan (never collect the docs table) and re-rank on the
    # source id (oracle order)
    docs = spark.read.parquet(os.path.join(idx, "gen=0", "docs")).select("doc_id", "path")
    mapped = docs.join(F.broadcast(top), "doc_id").select(
        F.split("path", "_").getItem(1).cast("long").alias("doc_id"), "score"
    )
    return (
        mapped.orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(10)
        .select("doc_id", F.round("score", 6).alias("score"))
    )


# B5d: conjunctive match (ES `operator: and`) via the real engine — every
# analyzed query term must occur in the doc.
@register("ft_bm25_and_top10", _bm25_sql(10, mode="and"))
def ft_bm25_and_top10(spark, sf_dir):
    from search_replica_spark.query.bm25 import TermAtATimeScorer

    idx = _index_dir_for(spark, sf_dir)
    hits = TermAtATimeScorer(_OrigIdReader(spark, idx)).score(
        " ".join(BM25_QUERY_TERMS), 10, mode="and"
    )
    rows = [(d, round(s, 6)) for d, s in hits]
    return spark.createDataFrame(rows, "doc_id long, score double")


# B5h: ES highlighting over STORED FIELDS — score top-10 with the real
# engine, then read each hit's stored _source from the index's docs/
# store through the reader (never the source table) and compute a
# plain-highlighter fragment (query/highlight.py). The oracle recomputes
# BM25 AND the identical fragment rule in SQL (instr/substr/
# regexp_replace over documents.text, which equals the stored content
# byte-for-byte).
HL_TERM = "spark"
_HL_SQL = f"""
WITH topk AS ({_bm25_sql(10, qterms=(HL_TERM,))})
SELECT t.doc_id, t.score,
       regexp_replace(
         substr(d.text, greatest(1, instr(lower(d.text), '{HL_TERM}') - 30), 80),
         '(?i)({HL_TERM})', '<em>\\1</em>', 'g') AS frag
FROM topk t JOIN documents d USING (doc_id)
"""


@register("ft_highlight_top10", _HL_SQL)
def ft_highlight_top10(spark, sf_dir):
    from search_replica_spark.query.bm25 import TermAtATimeScorer
    from search_replica_spark.query.dsl import _stored_contents
    from search_replica_spark.query.highlight import highlight_hits

    reader = _OrigIdReader(spark, _index_dir_for(spark, sf_dir))
    hits = TermAtATimeScorer(reader).score(HL_TERM, 10)
    contents = _stored_contents(reader, [d for d, _ in hits])
    rows = [(d, round(s, 6), frag) for d, s, frag in highlight_hits(hits, contents, [HL_TERM])]
    return spark.createDataFrame(rows, "doc_id long, score double, frag string")


# B8b: GET/mget by _id over the engine's stored _source (ES GET API — the
# reference relies on ES for it; consistency_test.go:189-210 polls exactly
# this endpoint). The wanted engine doc_ids are derived from the (repo,
# path) keys with the same JVM sha expression the build uses, then the
# live-docs view is point-filtered — PushedFilters: [In(doc_id ...)]
# reaches the parquet scan (PLANS.md), content comes from the INDEX.
@register(
    "ft_get_by_id",
    "SELECT doc_id, lang, text FROM documents WHERE doc_id % 97 = 0",
)
def ft_get_by_id(spark, sf_dir):
    from search_replica_spark.index.build import with_doc_ids
    from search_replica_spark.streaming.incremental import source_view

    idx = _index_dir_for(spark, sf_dir)
    keys = _corpus_from_documents(spark, sf_dir).filter(
        F.split(F.col("path"), "_").getItem(1).cast("long") % 97 == 0
    )
    ids = [r["doc_id"] for r in with_doc_ids(keys).select("doc_id").collect()]
    return source_view(spark, idx).filter(F.col("doc_id").isin(ids)).select(
        F.split(F.col("path"), "_").getItem(1).cast("long").alias("doc_id"),
        "lang",
        F.col("content").alias("text"),
    )


# B5s: sort + search_after pagination (ES's scalable deep-paging cursor:
# a tuple-compare filter on the sort key instead of OFFSET's skip-scan —
# OFFSET n reads and throws away n rows PER SHARD, search_after prunes
# them in the scan). The oracle uses OFFSET (fine for DuckDB's single
# node); results must be identical because the sort key is total (doc_id
# is unique).
def search_after_page(df, sort_cols: list[str], after: list, size: int):
    # lexicographic (c1,c2,...) > (v1,v2,...) expanded into AND/OR clauses:
    # unlike a struct comparison this needs no field name/type alignment and
    # its per-column predicates are parquet-pushable
    cond, prefix_eq = None, None
    for c, v in zip(sort_cols, after):
        gt = F.col(c) > F.lit(v)
        clause = gt if prefix_eq is None else (prefix_eq & gt)
        cond = clause if cond is None else (cond | clause)
        eq = F.col(c) == F.lit(v)
        prefix_eq = eq if prefix_eq is None else (prefix_eq & eq)
    return df.filter(cond).orderBy(*sort_cols).limit(size)


@register(
    "ft_search_after_page2",
    "SELECT doc_id, lang FROM documents ORDER BY lang, doc_id LIMIT 50 OFFSET 50",
)
def ft_search_after_page2(spark, sf_dir):
    d = load(spark, sf_dir, "documents").select("doc_id", "lang")
    page1 = d.orderBy("lang", "doc_id").limit(50).collect()
    last = page1[-1]
    return search_after_page(d, ["lang", "doc_id"], [last["lang"], last["doc_id"]], 50)


# B5m: ES more_like_this — select the source doc's most "interesting"
# terms (tf × idf, ES's own selection heuristic) capped at max_query_terms,
# then run a should-query with them, excluding the source doc. Source doc
# = min(doc_id) (deterministic); term selection tie-break (score desc,
# term asc) is pinned so both engines pick the identical term set. The
# engine reads the doc's terms from its STORED _source and df from the
# built dict; scoring is the real TATA scorer.
MLT_MAX_TERMS = 10


def _mlt_sql(limit: int) -> str:
    return f"""
WITH tok AS ({_TOK}),
dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
stats AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM dl),
src AS (SELECT min(doc_id) AS id FROM documents),
stf AS (SELECT term, count(*) AS tf FROM tok, src WHERE doc_id = src.id GROUP BY term),
df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok
       WHERE term IN (SELECT term FROM stf) GROUP BY term),
sel AS (SELECT stf.term
        FROM stf JOIN df USING (term) CROSS JOIN stats
        ORDER BY stf.tf * ln(1 + (stats.n - df.df + 0.5) / (df.df + 0.5)) DESC,
                 stf.term
        LIMIT {MLT_MAX_TERMS}),
tf2 AS (SELECT doc_id, term, count(*) AS tf FROM tok
        WHERE term IN (SELECT term FROM sel) GROUP BY doc_id, term),
sc AS (SELECT tf2.doc_id,
              sum( ln(1 + (stats.n - df.df + 0.5) / (df.df + 0.5))
                   * tf2.tf / (tf2.tf + {K1} * (1 - {B} + {B} * dl.dl / stats.avgdl)) ) AS s
       FROM tf2 JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
       GROUP BY tf2.doc_id)
SELECT doc_id, round(s, 6) AS score FROM sc, src WHERE doc_id <> src.id
ORDER BY s DESC, doc_id LIMIT {limit}
"""


@register("ft_more_like_this_top10", _mlt_sql(10))
def ft_more_like_this_top10(spark, sf_dir):
    from search_replica_spark.query.bm25 import more_like_this_topk

    idx = _index_dir_for(spark, sf_dir)
    rd = _OrigIdReader(spark, idx)
    src_id = load(spark, sf_dir, "documents").agg(F.min("doc_id")).collect()[0][0]
    # the source doc's terms come from the index's STORED _source (ES reads
    # the term vector / _source the same way) — a pushed-down point read
    content = (
        spark.read.parquet(os.path.join(idx, "docs"))
        .filter(F.col("path") == f"doc_{src_id}")
        .select("content")
        .collect()[0][0]
    )
    hits = more_like_this_topk(
        rd, content, k=10, max_query_terms=MLT_MAX_TERMS, exclude={src_id}
    )
    rows = [(d, round(s, 6)) for d, s in hits]
    return spark.createDataFrame(rows, "doc_id long, score double")


# B5r: ES range query on a keyword field — lexicographic [gte, lte] over
# the fielded index's term dictionary (see query.bm25.range_match). The
# oracle is the plain value-range predicate; matching it proves the
# field:value dict layout + in-scan bounds give exactly ES's keyword-range
# semantics.
@register(
    "ft_range_lang",
    "SELECT DISTINCT doc_id FROM documents WHERE lang >= 'de' AND lang <= 'fr'",
)
def ft_range_lang(spark, sf_dir):
    from search_replica_spark.query.bm25 import range_match

    idx = _fielded_index_dir_for(spark, sf_dir)
    ids = range_match(_OrigIdReader(spark, idx), "lang", gte="de", lte="fr")
    return spark.createDataFrame([(d,) for d in ids], "doc_id long")


# B5t: ES terms query — multi-value keyword filter as direct field:value
# term lookups (constant score; no dict expansion, straight posting fetch).
@register(
    "ft_terms_lang",
    "SELECT DISTINCT doc_id FROM documents WHERE lang IN ('de', 'ja')",
)
def ft_terms_lang(spark, sf_dir):
    from search_replica_spark.query.bm25 import terms_match

    idx = _fielded_index_dir_for(spark, sf_dir)
    ids = terms_match(_OrigIdReader(spark, idx), "lang", ["de", "ja"])
    return spark.createDataFrame([(d,) for d in ids], "doc_id long")


# B5u: ES match_all — every doc at constant score 1.0, deterministic
# doc_id order (the query the reference's demo nests inside has_child,
# demo/README.md:28). Served from the doc store; postings untouched.
@register(
    "ft_match_all_top10",
    """SELECT doc_id, 1.0 AS score FROM documents ORDER BY doc_id LIMIT 10""",
)
def ft_match_all_top10(spark, sf_dir):
    from search_replica_spark.query.bm25 import match_all

    idx = _index_dir_for(spark, sf_dir)
    hits = match_all(_OrigIdReader(spark, idx), 10)
    return spark.createDataFrame(hits, "doc_id long, score double")


# C3b: mapping options — ES `"index": false` (demo/mapping.json:7) and
# `ignore_above` (demo/mapping.json:27). A noindex field contributes ZERO
# terms (stored only); a keyword with ignore_above=N is indexed only when
# its value is <= N chars. src0..src9 (4 chars) index, src10..src19
# (5 chars) are skipped; lang is mapped noindex so it is absent entirely.
@register(
    "field_mapping_options",
    """SELECT doc_id, 'source' AS field, source AS term, count(*) AS tf
       FROM documents WHERE length(source) <= 4
       GROUP BY doc_id, source""",
)
def field_mapping_options(spark, sf_dir):
    from search_replica_spark.analysis.fields import field_tokens

    d = load(spark, sf_dir, "documents")
    parts = [
        d.select(
            "doc_id",
            F.lit(fld).alias("field"),
            F.explode(field_tokens(fld, kind)).alias("term"),
        )
        for fld, kind in (("source", "keyword:4"), ("lang", "noindex"))
    ]
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    return u.groupBy("doc_id", "field", "term").agg(F.count("*").alias("tf"))


# B5v: ES exists query — docs with an INDEXED value for a field, answered
# from the dictionary (so ignore_above'd keywords correctly do NOT exist,
# even though their _source keeps the value — exact ES semantics: the
# exists query sees the index, not the stored document).
def _mapped_index_dir_for(spark, sf_dir) -> str:
    from search_replica_spark.config import IndexConfig
    from search_replica_spark.index.build import build_index

    tag = hashlib.sha1(sf_dir.encode()).hexdigest()[:10]
    out = f"/tmp/ssr_harness_midx_{tag}_v2"
    if not os.path.exists(os.path.join(out, "stats.json")):
        d = load(spark, sf_dir, "documents")
        corpus = d.select(
            F.lit("corpus").alias("repo"),
            F.concat(F.lit("doc_"), F.col("doc_id").cast("string")).alias("path"),
            F.lit("0" * 40).alias("commit"),
            F.col("lang"),
            F.col("text").alias("content"),
            F.col("source"),
        )
        build_index(
            spark,
            corpus,
            out,
            IndexConfig(
                shuffle_partitions=8,
                input_columns=("repo", "path", "commit", "lang", "content", "source"),
                field_analyzers=(("content", "text"), ("source", "keyword:4")),
            ),
        )
    return out


@register(
    "ft_exists_source",
    "SELECT DISTINCT doc_id FROM documents WHERE length(source) <= 4",
)
def ft_exists_source(spark, sf_dir):
    from search_replica_spark.query.bm25 import exists_match

    idx = _mapped_index_dir_for(spark, sf_dir)
    ids = exists_match(_OrigIdReader(spark, idx), "source")
    return spark.createDataFrame([(d,) for d in ids], "doc_id long")


# B5w: ES term suggester ("did you mean") — candidate terms from the
# dictionary within edit distance <= 2 of a misspelled input, ranked the
# ES way: distance asc, then document frequency desc, then term. One
# dictionary scan + a JVM levenshtein filter — at 100 TB the dict is
# term-range partitioned, and the same first-character/length prefilters
# fuzzy_match uses bound the scan (ES's suggester is a dict automaton;
# the candidate SET here is identical for distance <= 2).
SUGGEST_INPUT = "sprak"  # misspelling of corpus term "spark"


@register(
    "ft_suggest_term",
    f"""WITH dict AS (SELECT term, count(DISTINCT doc_id) AS df
                      FROM ({_TOK}) GROUP BY term)
        SELECT term, df, levenshtein(term, '{SUGGEST_INPUT}') AS dist
        FROM dict
        WHERE levenshtein(term, '{SUGGEST_INPUT}') <= 2
        ORDER BY dist, df DESC, term LIMIT 5""",
)
def ft_suggest_term(spark, sf_dir):
    idx = _index_dir_for(spark, sf_dir)
    dic = spark.read.parquet(os.path.join(idx, "dict"))
    return (
        dic.select(
            "term", "df", F.levenshtein(F.col("term"), F.lit(SUGGEST_INPUT)).alias("dist")
        )
        .filter(F.col("dist") <= 2)
        .orderBy("dist", F.col("df").desc(), "term")
        .limit(5)
    )


# B5x: ES explain API — per-term BM25 breakdown for the TOP hit of the
# reference query (GET /_explain/{id}): term, tf, df, idf, contribution.
# The engine numbers come from the same decoded postings the scorers use;
# the twin recomputes every factor in SQL. Bit-stable because both sides
# run the identical float64 formula in the same order.
_EXPLAIN_TERMS = ", ".join(f"'{t}'" for t in BM25_QUERY_TERMS)
_EXPLAIN_SQL = f"""
WITH tok AS ({_TOK}),
dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
stats AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM dl),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok
       WHERE term IN ({_EXPLAIN_TERMS}) GROUP BY doc_id, term),
df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
sc AS (SELECT tf.doc_id,
              sum( ln(1 + (stats.n - df.df + 0.5) / (df.df + 0.5))
                   * tf.tf / (tf.tf + {K1} * (1 - {B} + {B} * dl.dl / stats.avgdl)) ) AS s
       FROM tf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
       GROUP BY tf.doc_id),
top1 AS (SELECT doc_id FROM sc ORDER BY s DESC, doc_id LIMIT 1)
SELECT tf.term, tf.tf, df.df,
       round(ln(1 + (stats.n - df.df + 0.5) / (df.df + 0.5)), 6) AS idf,
       round(ln(1 + (stats.n - df.df + 0.5) / (df.df + 0.5))
             * tf.tf / (tf.tf + {K1} * (1 - {B} + {B} * dl.dl / stats.avgdl)), 6)
           AS contribution
FROM tf JOIN top1 USING (doc_id) JOIN df USING (term)
     JOIN dl USING (doc_id) CROSS JOIN stats
ORDER BY tf.term
"""


@register("ft_explain_top1", _EXPLAIN_SQL)
def ft_explain_top1(spark, sf_dir):
    from search_replica_spark.query.bm25 import explain_score

    idx = _index_dir_for(spark, sf_dir)
    rows = explain_score(_OrigIdReader(spark, idx), " ".join(BM25_QUERY_TERMS))
    return spark.createDataFrame(
        [(r["term"], r["tf"], r["df"], r["idf"], r["contribution"]) for r in rows],
        "term string, tf long, df long, idf double, contribution double",
    )


# B5y: ES field collapsing — {"collapse": {"field": "lang"}}: the top-5
# hits keeping only the best-scoring doc per lang (search-dedup by group).
_COLLAPSE_SQL = f"""
WITH tok AS ({_TOK}),
dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
stats AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM dl),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok
       WHERE term IN ({_EXPLAIN_TERMS}) GROUP BY doc_id, term),
df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
sc AS (SELECT tf.doc_id,
              sum( ln(1 + (stats.n - df.df + 0.5) / (df.df + 0.5))
                   * tf.tf / (tf.tf + {K1} * (1 - {B} + {B} * dl.dl / stats.avgdl)) ) AS s
       FROM tf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
       GROUP BY tf.doc_id),
best AS (SELECT sc.doc_id, d.lang, sc.s,
                row_number() OVER (PARTITION BY d.lang
                                   ORDER BY sc.s DESC, sc.doc_id) AS rk
         FROM sc JOIN documents d USING (doc_id))
SELECT doc_id, lang, round(s, 6) AS score FROM best WHERE rk = 1
ORDER BY s DESC, doc_id LIMIT 5
"""


@register("ft_collapse_by_lang", _COLLAPSE_SQL)
def ft_collapse_by_lang(spark, sf_dir):
    import pandas as pd

    from search_replica_spark.query.bm25 import collapse_topk

    idx = _index_dir_for(spark, sf_dir)
    rd = _OrigIdReader(spark, idx)
    # per-slot collapse codes from the docs store (lang rides in docs/)
    meta = (
        spark.read.parquet(os.path.join(idx, "docs"))
        .select("doc_idx", "lang")
        .toPandas()
        .sort_values("doc_idx")
    )
    codes, uniques = pd.factorize(meta["lang"])
    hits = collapse_topk(rd, " ".join(BM25_QUERY_TERMS), codes, k=5)
    return spark.createDataFrame(
        [(d, str(uniques[cid]), round(s, 6)) for d, cid, s in hits],
        "doc_id long, lang string, score double",
    )


# B5z: BM25 with PER-FIELD NORMS — ES's actual multi-field scoring model
# (Lucene BM25Similarity per field: each clause normalizes by ITS field's
# doc length / avgdl, idf from the field's docCount). Same fielded index
# as B5l; contrast documented there (combined-length spec). The lang
# keyword clause collapses to idf_lang / (1 + k1) since every lang field
# is exactly one token.
_FNORM_SQL = f"""
WITH tokc AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
dlc AS (SELECT doc_id, count(*) AS dl FROM tokc GROUP BY doc_id),
statc AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM dlc),
statl AS (SELECT count(*) AS n FROM documents WHERE lang IS NOT NULL),
tfc AS (SELECT doc_id, count(*) AS tf FROM tokc WHERE term = 'spark' GROUP BY doc_id),
dfc AS (SELECT count(*) AS df FROM tfc),
tfl AS (SELECT doc_id FROM documents WHERE lang = 'de'),
dfl AS (SELECT count(*) AS df FROM tfl),
contrib AS (
  SELECT tfc.doc_id,
         ln(1 + (statc.n - dfc.df + 0.5) / (dfc.df + 0.5))
         * tfc.tf / (tfc.tf + {K1} * (1 - {B} + {B} * dlc.dl / statc.avgdl)) AS s
  FROM tfc JOIN dlc USING (doc_id) CROSS JOIN dfc CROSS JOIN statc
  UNION ALL
  SELECT tfl.doc_id,
         ln(1 + (statl.n - dfl.df + 0.5) / (dfl.df + 0.5)) * (1.0 / (1.0 + {K1})) AS s
  FROM tfl CROSS JOIN dfl CROSS JOIN statl
),
sc AS (SELECT doc_id, sum(s) AS s FROM contrib GROUP BY doc_id)
SELECT doc_id, round(s, 6) AS score FROM sc ORDER BY s DESC, doc_id LIMIT 10
"""


@register("ft_bm25_fielded_norms_top10", _FNORM_SQL)
def ft_bm25_fielded_norms_top10(spark, sf_dir):
    from search_replica_spark.query.bm25 import fielded_norms_topk

    idx = _fielded_index_dir_for(spark, sf_dir)
    hits = fielded_norms_topk(
        _OrigIdReader(spark, idx), ["content:spark", "lang:de"], 10
    )
    rows = [(d, round(s, 6)) for d, s in hits]
    return spark.createDataFrame(rows, "doc_id long, score double")


# B5z2: per-field norms over a GENERATIONAL index — the same query as
# B5z served by a 2-generation fielded index (disjoint ingest batches).
# With no doc in both generations, the integer-summed merged field stats
# and summed per-term dfs equal the single-index values EXACTLY, so the
# SAME single-index SQL twin is the oracle — proving the multigen
# serving path bit-equal to a from-scratch build.
def _fielded_multigen_index_dir_for(spark, sf_dir) -> str:
    from search_replica_spark.config import IndexConfig
    from search_replica_spark.streaming.incremental import add_generation

    tag = hashlib.sha1(sf_dir.encode()).hexdigest()[:10]
    out = f"/tmp/ssr_harness_fmgidx_{tag}_v2"
    if not os.path.exists(os.path.join(out, "generations.json")):
        corpus = _corpus_from_documents(spark, sf_dir)
        half = F.col("path").substr(-1, 1).cast("int") % 2  # doc_id parity
        cfg = IndexConfig(
            shuffle_partitions=8,
            field_analyzers=(("content", "text"), ("lang", "keyword")),
        )
        add_generation(spark, corpus.filter(half == 0), out, cfg)
        add_generation(spark, corpus.filter(half == 1), out)  # flags derive
    return out


@register(
    "ft_bm25_fielded_norms_multigen_top10",
    _FNORM_SQL,
)
def ft_bm25_fielded_norms_multigen_top10(spark, sf_dir):
    from search_replica_spark.query.bm25 import fielded_norms_topk

    idx = _fielded_multigen_index_dir_for(spark, sf_dir)
    hits = fielded_norms_topk(_OrigIdReader(spark, idx), ["content:spark", "lang:de"], 10)
    rows = [(d, round(s, 6)) for d, s in hits]
    return spark.createDataFrame(rows, "doc_id long, score double")


# B5z3: FIELD BOOSTS over per-field norms — ES `fields: ["content^2",
# "lang^0.5"]` / the BM25F field-weight model: each field clause's score
# multiplies by its boost before summation. Boosts are exact binary floats
# (2.0, 0.5) so both engines' products are bit-identical under round(.,6).
_FNORM_BOOST_SQL = f"""
WITH tokc AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
dlc AS (SELECT doc_id, count(*) AS dl FROM tokc GROUP BY doc_id),
statc AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM dlc),
statl AS (SELECT count(*) AS n FROM documents WHERE lang IS NOT NULL),
tfc AS (SELECT doc_id, count(*) AS tf FROM tokc WHERE term = 'spark' GROUP BY doc_id),
dfc AS (SELECT count(*) AS df FROM tfc),
tfl AS (SELECT doc_id FROM documents WHERE lang = 'de'),
dfl AS (SELECT count(*) AS df FROM tfl),
contrib AS (
  SELECT tfc.doc_id,
         2.0 * ln(1 + (statc.n - dfc.df + 0.5) / (dfc.df + 0.5))
         * tfc.tf / (tfc.tf + {K1} * (1 - {B} + {B} * dlc.dl / statc.avgdl)) AS s
  FROM tfc JOIN dlc USING (doc_id) CROSS JOIN dfc CROSS JOIN statc
  UNION ALL
  SELECT tfl.doc_id,
         0.5 * ln(1 + (statl.n - dfl.df + 0.5) / (dfl.df + 0.5))
         * (1.0 / (1.0 + {K1})) AS s
  FROM tfl CROSS JOIN dfl CROSS JOIN statl
),
sc AS (SELECT doc_id, sum(s) AS s FROM contrib GROUP BY doc_id)
SELECT doc_id, round(s, 6) AS score FROM sc ORDER BY s DESC, doc_id LIMIT 10
"""


@register("ft_bm25_boosted_fields_top10", _FNORM_BOOST_SQL)
def ft_bm25_boosted_fields_top10(spark, sf_dir):
    from search_replica_spark.query.bm25 import fielded_norms_topk

    idx = _fielded_index_dir_for(spark, sf_dir)
    hits = fielded_norms_topk(
        _OrigIdReader(spark, idx), ["content:spark", "lang:de"], 10,
        boosts={"content": 2.0, "lang": 0.5},
    )
    rows = [(d, round(s, 6)) for d, s in hits]
    return spark.createDataFrame(rows, "doc_id long, score double")


# B5r: ES RESCORE API (rescore.window_size, score_mode=total) — a cheap
# BM25 pass ranks the corpus, only the top-50 window is re-scored with an
# exact "spark join" phrase count over the stored _source, merged as
# 1.0*base + 0.25*phrase_tf (0.25 = exact binary float, bit-stable twin).
# The expensive scorer's cost is window-bounded — ES's contract at scale.
_RESCORE_SQL = f"""
WITH tok AS ({_TOK}),
dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
stats AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM dl),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok
       WHERE term IN ('spark', 'join', 'window') GROUP BY doc_id, term),
df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
sc AS (SELECT tf.doc_id,
              sum( ln(1 + (stats.n - df.df + 0.5) / (df.df + 0.5))
                   * tf.tf / (tf.tf + {K1} * (1 - {B} + {B} * dl.dl / stats.avgdl)) ) AS s
       FROM tf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
       GROUP BY tf.doc_id),
win AS (SELECT doc_id, s FROM sc ORDER BY s DESC, doc_id LIMIT 50),
ph AS (SELECT w.doc_id,
              1.0 * w.s + 0.25 * len(list_filter(
                  generate_series(1, len(string_split(d.text, ' ')) - 1),
                  i -> string_split(d.text, ' ')[i] = 'spark'
                       AND string_split(d.text, ' ')[i + 1] = 'join')) AS s
       FROM win w JOIN documents d USING (doc_id))
SELECT doc_id, round(s, 6) AS score FROM ph
ORDER BY s DESC, doc_id LIMIT 10
"""


@register("ft_rescore_phrase_top10", _RESCORE_SQL)
def ft_rescore_phrase_top10(spark, sf_dir):
    from search_replica_spark.query.bm25 import rescore_topk

    idx = _index_dir_for(spark, sf_dir)
    hits = rescore_topk(
        _OrigIdReader(spark, idx), " ".join(BM25_QUERY_TERMS), ["spark", "join"],
        window=50, k=10, rescore_weight=0.25,
    )
    return spark.createDataFrame(
        [(d, round(s, 6)) for d, s in hits], "doc_id long, score double"
    )


# B5fs: ES function_score, field_value_factor(modifier=ln1p, multiply):
# final = BM25 * ln(1 + doc_len) over EVERY matching doc — the function is
# part of the query (any match can be promoted), so the whole match set is
# scored; the factor field is already in the doc arrays (no fetch).
_FSCORE_SQL = f"""
WITH tok AS ({_TOK}),
dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
stats AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM dl),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok
       WHERE term IN ('spark', 'join', 'window') GROUP BY doc_id, term),
df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
sc AS (SELECT tf.doc_id,
              sum( ln(1 + (stats.n - df.df + 0.5) / (df.df + 0.5))
                   * tf.tf / (tf.tf + {K1} * (1 - {B} + {B} * dl.dl / stats.avgdl)) ) AS s
       FROM tf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
       GROUP BY tf.doc_id)
SELECT sc.doc_id, round(sc.s * ln(1 + dl.dl), 6) AS score
FROM sc JOIN dl USING (doc_id)
ORDER BY sc.s * ln(1 + dl.dl) DESC, sc.doc_id LIMIT 10
"""


@register("ft_function_score_top10", _FSCORE_SQL)
def ft_function_score_top10(spark, sf_dir):
    from search_replica_spark.query.bm25 import function_score_topk

    idx = _index_dir_for(spark, sf_dir)
    hits = function_score_topk(
        _OrigIdReader(spark, idx), " ".join(BM25_QUERY_TERMS), 10
    )
    return spark.createDataFrame(
        [(d, round(s, 6)) for d, s in hits], "doc_id long, score double"
    )


# B5c2: ES _count API — matching-doc cardinality, no scoring/fetch.
@register(
    "ft_count_match",
    f"""WITH tok AS ({_TOK})
        SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_or,
               CAST((SELECT count(*) FROM (
                   SELECT doc_id FROM tok
                   WHERE term IN ('spark', 'join', 'window')
                   GROUP BY doc_id
                   HAVING count(DISTINCT term) = 3)) AS BIGINT) AS n_and
        FROM tok WHERE term IN ('spark', 'join', 'window')""",
)
def ft_count_match(spark, sf_dir):
    from search_replica_spark.query.bm25 import count_match

    idx = _index_dir_for(spark, sf_dir)
    rd = _OrigIdReader(spark, idx)
    q = " ".join(BM25_QUERY_TERMS)
    return spark.createDataFrame(
        [(count_match(rd, q), count_match(rd, q, mode="and"))],
        "n_or long, n_and long",
    )


def _dsl_top(spark, sf_dir, query: dict, k: int):
    """The top ``k`` of an ES query-DSL object over the harness index,
    answered by ``execute_dsl`` (the /_search path composes the compound
    kinds), as (doc_id, score rounded to 6 dp)."""
    from search_replica_spark.query.dsl import execute_dsl

    hits = execute_dsl(_OrigIdReader(spark, _index_dir_for(spark, sf_dir)), query, k)
    return spark.createDataFrame(
        [(d, round(s, 6)) for d, s in hits], "doc_id long, score double"
    )


# ---------------------------------------------------------------------------
# B5dm/B5bq/B5cs/B5ms: four more ES query-DSL surfaces over the same index.
# Shared twin prelude: per-(doc, term) BM25 contributions for the union of
# both subqueries' terms; each entry aggregates them its own way.
_DM_Q1 = ("join", "spark")  # subquery 1: "spark join"
_DM_Q2 = ("hash", "window")  # subquery 2: "window hash"

_DM_CTES = f"""
WITH tok AS ({_TOK}),
dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
stats AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM dl),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok
       WHERE term IN ('hash', 'join', 'spark', 'window') GROUP BY doc_id, term),
df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
w AS (SELECT tf.doc_id, tf.term,
             ln(1 + (stats.n - df.df + 0.5) / (df.df + 0.5))
             * tf.tf / (tf.tf + {K1} * (1 - {B} + {B} * dl.dl / stats.avgdl)) AS c
      FROM tf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN stats),
sc1 AS (SELECT doc_id, sum(c) AS s FROM w
        WHERE term IN ({", ".join(f"'{t}'" for t in _DM_Q1)}) GROUP BY doc_id),
sc2 AS (SELECT doc_id, sum(c) AS s FROM w
        WHERE term IN ({", ".join(f"'{t}'" for t in _DM_Q2)}) GROUP BY doc_id)
"""

# dis_max final = best + tie * (total - best); the twin spells the combine
# with the SAME operations/order ((s1+s2) - greatest, not least) so both
# engines run identical float arithmetic.
_DISMAX_SQL = (
    _DM_CTES
    + """,
u AS (SELECT coalesce(sc1.doc_id, sc2.doc_id) AS doc_id,
             coalesce(sc1.s, 0) AS s1, coalesce(sc2.s, 0) AS s2
      FROM sc1 FULL OUTER JOIN sc2 ON sc1.doc_id = sc2.doc_id)
SELECT doc_id,
       round(greatest(s1, s2) + 0.5 * ((s1 + s2) - greatest(s1, s2)), 6) AS score
FROM u
ORDER BY greatest(s1, s2) + 0.5 * ((s1 + s2) - greatest(s1, s2)) DESC, doc_id
LIMIT 10
"""
)


@register("ft_dis_max_top10", _DISMAX_SQL)
def ft_dis_max_top10(spark, sf_dir):
    return _dsl_top(spark, sf_dir, {"dis_max": {
        "queries": [{"match": {"content": "spark join"}},
                    {"match": {"content": "window hash"}}],
        "tie_breaker": 0.5}}, 10)


# boosting query: positive = "spark join", negative = "hash" (filter
# context), negative_boost 0.25 (exact binary float — bit-stable twin).
_BOOSTING_SQL = (
    _DM_CTES
    + """
SELECT doc_id,
       round(CASE WHEN EXISTS (SELECT 1 FROM tok x
                               WHERE x.doc_id = sc1.doc_id AND x.term = 'hash')
                  THEN s * 0.25 ELSE s END, 6) AS score
FROM sc1
ORDER BY (CASE WHEN EXISTS (SELECT 1 FROM tok x
                            WHERE x.doc_id = sc1.doc_id AND x.term = 'hash')
               THEN s * 0.25 ELSE s END) DESC, doc_id
LIMIT 10
"""
)


@register("ft_boosting_top10", _BOOSTING_SQL)
def ft_boosting_top10(spark, sf_dir):
    return _dsl_top(spark, sf_dir, {"boosting": {
        "positive": {"match": {"content": "spark join"}},
        "negative": {"match": {"content": "hash"}},
        "negative_boost": 0.25}}, 10)


# constant_score: filter-context match, every hit scores exactly the boost;
# ties all equal → top-k = k smallest doc_ids.
@register(
    "ft_constant_score",
    f"""WITH tok AS ({_TOK})
        SELECT DISTINCT doc_id, CAST(1.5 AS DOUBLE) AS score FROM tok
        WHERE term IN ('spark', 'window') ORDER BY doc_id LIMIT 25""",
)
def ft_constant_score(spark, sf_dir):
    return _dsl_top(spark, sf_dir, {"constant_score": {
        "filter": {"match": {"content": "spark window"}}, "boost": 1.5}}, 25)


# _msearch: two searches, one call, one reader — per-query top-5.
_MSEARCH_SQL = (
    _DM_CTES
    + """
SELECT * FROM (
  (SELECT 0 AS qid, doc_id, round(s, 6) AS score FROM sc1
   ORDER BY s DESC, doc_id LIMIT 5)
  UNION ALL
  (SELECT 1 AS qid, doc_id, round(s, 6) AS score FROM sc2
   ORDER BY s DESC, doc_id LIMIT 5))
ORDER BY qid, score DESC, doc_id
"""
)


@register("ft_msearch_top5", _MSEARCH_SQL)
def ft_msearch_top5(spark, sf_dir):
    from search_replica_spark.query.bm25 import msearch

    idx = _index_dir_for(spark, sf_dir)
    results = msearch(_OrigIdReader(spark, idx), ["spark join", "window hash"], 5)
    rows = [
        (qid, d, round(s, 6))
        for qid, hits in enumerate(results)
        for d, s in hits
    ]
    return spark.createDataFrame(rows, "qid int, doc_id long, score double")


# terms_set: minimum_should_match gate over a term list — docs matching
# >= 2 of {hash, spark, window}, scored as the sum of matched
# contributions (ES terms_set semantics). Reuses the per-(doc, term)
# contribution CTE the dis_max family shares.
_TERMS_SET_SQL = (
    _DM_CTES
    + """
SELECT doc_id, round(sum(c), 6) AS score FROM w
WHERE term IN ('hash', 'spark', 'window')
GROUP BY doc_id HAVING count(DISTINCT term) >= 2
ORDER BY sum(c) DESC, doc_id LIMIT 10
"""
)


@register("ft_terms_set_top10", _TERMS_SET_SQL)
def ft_terms_set_top10(spark, sf_dir):
    from search_replica_spark.query.bm25 import terms_set_topk

    idx = _index_dir_for(spark, sf_dir)
    hits = terms_set_topk(
        _OrigIdReader(spark, idx), ["hash", "spark", "window"], min_match=2, k=10
    )
    return spark.createDataFrame(
        [(d, round(s, 6)) for d, s in hits], "doc_id long, score double"
    )


# --- ES percolate: reverse search ----------------------------------------
# The percolator indexes QUERIES and matches incoming DOCUMENTS against
# them (ES percolate query; the reference's ES side ships whatever queries
# users register). Spec: each registered query is a conjunctive term set —
# a doc percolates a query iff it contains EVERY term. Spark shape: the
# (tiny) query table broadcasts into one equi-join against the distinct
# (doc, term) set, then a per-(query, doc) counting gate — never a scan
# per query, so 10k registered queries cost the same single pass at 100 TB
# as these five.
PERCOLATE_QUERIES = (
    (1, ("hash", "join")),
    (2, ("customer", "order")),
    (3, ("spark",)),
    (4, ("scan", "filter", "batch")),
    (5, ("zzz",)),  # never matches: absent from the corpus
)


def _percolate_sql() -> str:
    vals = ", ".join(
        f"({qid}, '{t}')" for qid, terms in PERCOLATE_QUERIES for t in terms
    )
    return f"""
WITH q(query_id, term) AS (VALUES {vals}),
n AS (SELECT query_id, count(*) AS nt FROM q GROUP BY query_id),
tok AS (SELECT DISTINCT doc_id, term
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)),
m AS (SELECT q.query_id, tok.doc_id, count(*) AS hit
      FROM q JOIN tok USING (term) GROUP BY q.query_id, tok.doc_id)
SELECT m.query_id, m.doc_id
FROM m JOIN n USING (query_id) WHERE m.hit = n.nt
"""


@register("percolate_matches", _percolate_sql())
def percolate_matches(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    q = spark.createDataFrame(
        [(qid, t) for qid, terms in PERCOLATE_QUERIES for t in terms],
        "query_id long, term string",
    )
    n = q.groupBy("query_id").agg(F.count("*").alias("nt"))
    tok = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    ).distinct()
    m = (
        tok.join(F.broadcast(q), "term")
        .groupBy("query_id", "doc_id")
        .agg(F.count("*").alias("hit"))
    )
    return (
        m.join(F.broadcast(n), "query_id")
        .where(F.col("hit") == F.col("nt"))
        .select("query_id", "doc_id")
    )


# B5z: ES phrase suggester — whole-phrase spelling correction: per-word
# candidates come from the index DICTIONARY within edit distance ≤ 2 (the
# term suggester's generator), and whole-phrase candidates are ranked by
# the corpus bigram LM (add-one smoothing, same model spec as
# text_bigram_lm_nll) plus an edit-cost penalty. All ranking arithmetic in
# integer micro-nats (floored before any sum) so the twin is bit-exact.
# Scale shape: candidate sets are tiny (edit-distance ball around each
# word) and BROADCAST against the LM count tables — the corpus is scanned
# once for counts, never per candidate.
PHRASE_SUGGEST_INPUT = ("srot", "lne")  # ~"sort line": 3 x 2 candidates
_PS_W1, _PS_W2 = PHRASE_SUGGEST_INPUT

_PHRASE_SUGGEST_SQL = f"""
WITH tok AS ({_TOK}),
vocab AS (SELECT term, count(*) AS cnt FROM tok GROUP BY term),
tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS t, count(*) AS v FROM vocab),
arr AS (SELECT doc_id, string_split(text, ' ') AS a FROM documents),
bi AS (SELECT a[i] AS w1, a[i + 1] AS w2
       FROM arr, unnest(generate_series(1, len(a) - 1)) AS t(i)),
bim AS (SELECT w1, w2, count(*) AS c12 FROM bi GROUP BY w1, w2),
pf AS (SELECT w1, count(*) AS c1p FROM bi GROUP BY w1),
c1 AS (SELECT term, cnt, levenshtein(term, '{_PS_W1}') AS d1 FROM vocab
       WHERE levenshtein(term, '{_PS_W1}') <= 2),
c2 AS (SELECT term, levenshtein(term, '{_PS_W2}') AS d2 FROM vocab
       WHERE levenshtein(term, '{_PS_W2}') <= 2),
cand AS (SELECT c1.term AS s1, c2.term AS s2, c1.d1, c2.d2, c1.cnt AS cnt1
         FROM c1 CROSS JOIN c2),
scored AS (
  SELECT cand.s1, cand.s2, cand.d1 + cand.d2 AS edits,
         CAST(floor(-ln((cand.cnt1 + 1.0) / (tot.t + tot.v)) * 1000000) AS BIGINT)
         + CAST(floor(-ln((COALESCE(bim.c12, 0) + 1.0)
                          / (COALESCE(pf.c1p, 0) + tot.v)) * 1000000) AS BIGINT)
         + 1000000 * (cand.d1 + cand.d2) AS total_micro
  FROM cand CROSS JOIN tot
  LEFT JOIN bim ON bim.w1 = cand.s1 AND bim.w2 = cand.s2
  LEFT JOIN pf ON pf.w1 = cand.s1)
SELECT s1, s2, edits, total_micro
FROM scored ORDER BY total_micro, s1, s2 LIMIT 5
"""


@register("ft_suggest_phrase", _PHRASE_SUGGEST_SQL)
def ft_suggest_phrase(spark, sf_dir):
    idx = _index_dir_for(spark, sf_dir)
    d = load(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    vocab = tok.groupBy("term").agg(F.count("*").alias("cnt"))
    trow = vocab.agg(
        F.sum("cnt").alias("t"), F.count("*").alias("v")
    ).collect()[0]
    t, v = int(trow["t"]), int(trow["v"])
    arr = d.select(F.split("text", " ").alias("a"))
    bi = (
        arr.where(F.size("a") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(a) - 1),"
                    " i -> struct(a[i - 1] AS w1, a[i] AS w2))"
                )
            ).alias("b")
        )
        .select("b.w1", "b.w2")
    )
    bim = bi.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    pf = bi.groupBy("w1").agg(F.count("*").alias("c1p"))
    # candidate generation from the index dictionary (the engine artifact),
    # occurrence counts joined from the corpus token table
    dic = spark.read.parquet(os.path.join(idx, "dict")).select("term")
    c1 = (
        dic.select("term", F.levenshtein("term", F.lit(_PS_W1)).alias("d1"))
        .filter(F.col("d1") <= 2)
        .join(vocab, "term")
        .select(F.col("term").alias("s1"), "d1", F.col("cnt").alias("cnt1"))
    )
    c2 = (
        dic.select("term", F.levenshtein("term", F.lit(_PS_W2)).alias("d2"))
        .filter(F.col("d2") <= 2)
        .select(F.col("term").alias("s2"), "d2")
    )
    cand = F.broadcast(c1).crossJoin(F.broadcast(c2))
    scored = (
        cand.join(
            bim, (F.col("s1") == F.col("w1")) & (F.col("s2") == F.col("w2")), "left"
        )
        .drop("w1", "w2")
        .join(pf.withColumnRenamed("w1", "s1"), "s1", "left")
        .select(
            "s1",
            "s2",
            (F.col("d1") + F.col("d2")).alias("edits"),
            (
                F.floor(-F.log((F.col("cnt1") + F.lit(1.0)) / F.lit(float(t + v))) * 1000000).cast("long")
                + F.floor(
                    -F.log(
                        (F.coalesce(F.col("c12"), F.lit(0)) + F.lit(1.0))
                        / (F.coalesce(F.col("c1p"), F.lit(0)) + F.lit(v))
                    )
                    * 1000000
                ).cast("long")
                + F.lit(1000000) * (F.col("d1") + F.col("d2"))
            ).alias("total_micro"),
        )
    )
    return scored.orderBy("total_micro", "s1", "s2").limit(5)


# ES completion suggester — prefix-to-term autocomplete served from the
# term dictionary (Lucene: an FST; here: the row-group-pruned range seek
# over the term-sorted dict parquet), ranked weight (=df) desc, term asc.
_COMPLETION_PREFIX = "s"


@register(
    "ft_suggest_completion",
    f"""WITH dict AS (SELECT term, count(DISTINCT doc_id) AS df
                      FROM ({_TOK}) GROUP BY term)
        SELECT term, df AS weight FROM dict
        WHERE term LIKE '{_COMPLETION_PREFIX}%'
        ORDER BY weight DESC, term LIMIT 5""",
)
def ft_suggest_completion(spark, sf_dir):
    from search_replica_spark.query.bm25 import completion_suggest

    idx = _index_dir_for(spark, sf_dir)
    pairs = completion_suggest(_OrigIdReader(spark, idx), _COMPLETION_PREFIX, size=5)
    return spark.createDataFrame(pairs, "term string, weight long")


# ES terms-lookup query: the terms set comes from ANOTHER document's
# stored _source (GET + analyze), then runs as a constant-score terms
# query. The lookup doc is the one with the smallest source id (a fixed,
# engine-independent choice). max_terms=3 exercises the selectivity cap
# (the 3 rarest lookup terms, df asc / term asc) — WITHOUT it every doc
# matches through the shared common vocabulary and the check is vacuous.
@register(
    "ft_terms_lookup",
    f"""WITH lut AS (SELECT DISTINCT unnest(string_split(text, ' ')) AS term
                     FROM documents
                     WHERE doc_id = (SELECT min(doc_id) FROM documents)),
        tok AS ({_TOK}),
        df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY term),
        sel AS (SELECT lut.term FROM lut JOIN df USING (term)
                ORDER BY df.df, lut.term LIMIT 3)
        SELECT DISTINCT tok.doc_id FROM tok JOIN sel USING (term)""",
)
def ft_terms_lookup(spark, sf_dir):
    from search_replica_spark.query.bm25 import terms_lookup

    idx = _index_dir_for(spark, sf_dir)
    d = load(spark, sf_dir, "documents")
    orig = int(d.agg(F.min("doc_id")).collect()[0][0])
    # the lookup id lives in the reader's id space: the source id here
    ids = terms_lookup(_OrigIdReader(spark, idx), orig, max_terms=3)
    return spark.createDataFrame([(i,) for i in ids], "doc_id long")


# ES simple_query_string — the user-facing mini query language, compiled
# to OR-of-AND-groups over the engine's primitives (phrase / term /
# prefix / negation). The fixed harness query exercises a phrase group
# OR'd with a (term AND NOT term) group; the twin scores each group with
# the already-proven phrase and BM25 CTEs and sums matching groups (two
# addends — float addition is commutative, so cross-engine order is
# irrelevant).
SQS_QUERY = '"table hash" | spark -join'

_SQS_SQL = f"""
WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term,
                    generate_subscripts(string_split(text, ' '), 1) AS ord
             FROM documents),
dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
stats AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM dl),
phdf AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok
         WHERE term IN ('table', 'hash') GROUP BY term),
idfsum AS (SELECT sum(ln(1 + (stats.n - phdf.df + 0.5) / (phdf.df + 0.5))) AS v
           FROM phdf CROSS JOIN stats),
ph AS (SELECT a.doc_id, count(*) AS ptf
       FROM tok a JOIN tok b ON b.doc_id = a.doc_id AND b.ord = a.ord + 1
       WHERE a.term = 'table' AND b.term = 'hash' GROUP BY a.doc_id),
g1 AS (SELECT ph.doc_id,
              idfsum.v * ph.ptf
                / (ph.ptf + {K1} * (1 - {B} + {B} * dl.dl / stats.avgdl)) AS s
       FROM ph JOIN dl USING (doc_id) CROSS JOIN stats CROSS JOIN idfsum),
sdf AS (SELECT count(DISTINCT doc_id) AS df FROM tok WHERE term = 'spark'),
stf AS (SELECT doc_id, count(*) AS tf FROM tok WHERE term = 'spark' GROUP BY doc_id),
g2 AS (SELECT stf.doc_id,
              ln(1 + (stats.n - sdf.df + 0.5) / (sdf.df + 0.5))
                * stf.tf / (stf.tf + {K1} * (1 - {B} + {B} * dl.dl / stats.avgdl)) AS s
       FROM stf JOIN dl USING (doc_id) CROSS JOIN stats CROSS JOIN sdf
       WHERE stf.doc_id NOT IN (SELECT DISTINCT doc_id FROM tok WHERE term = 'join')),
u AS (SELECT doc_id, sum(s) AS score
      FROM (SELECT * FROM g1 UNION ALL SELECT * FROM g2) GROUP BY doc_id)
SELECT doc_id, round(score, 6) AS score FROM u
ORDER BY score DESC, doc_id LIMIT 10
"""


@register("ft_simple_query_string", _SQS_SQL)
def ft_simple_query_string(spark, sf_dir):
    from search_replica_spark.query.bm25 import simple_query_string

    idx = _positional_index_dir_for(spark, sf_dir)
    hits = simple_query_string(
        _OrigIdReader(spark, idx), SQS_QUERY, k=10, default_operator="and"
    )
    rows = [(d, round(s, 6)) for d, s in hits]
    return spark.createDataFrame(rows, "doc_id long, score double")


# B5u: ES regexp query — anchored regex over dictionary terms (Lucene:
# automaton ∩ term FST). The pattern's literal prefix drives the
# row-group-pruned dict range seek; the regex then filters that expansion.
# Pattern stays in the RE2 ∩ Java ∩ Python common subset so all three
# engines agree. 's.a.*' ⇒ {scan, small, spark} on this vocabulary.
_REGEXP_PATTERN = "s.a.*"


@register(
    "ft_regexp_match",
    f"""WITH tok AS ({_TOK}),
        exp AS (SELECT term FROM (SELECT DISTINCT term FROM tok
                WHERE regexp_full_match(term, '{_REGEXP_PATTERN}')
                ORDER BY term LIMIT 50))
        SELECT DISTINCT doc_id FROM tok WHERE term IN (SELECT term FROM exp)""",
)
def ft_regexp_match(spark, sf_dir):
    from search_replica_spark.query.bm25 import regexp_match

    idx = _index_dir_for(spark, sf_dir)
    ids = regexp_match(_OrigIdReader(spark, idx), _REGEXP_PATTERN)
    return spark.createDataFrame([(d,) for d in ids], "doc_id long")


# B5v: ES intervals query, all_of(ordered=false, max_gaps) — the unordered
# complement of span_near: all terms inside SOME window with ≤ max_gaps
# filler positions. Engine: posting-intersection candidates + k-way-merge
# minimal cover per doc; twin: ∃ triple with width ≤ max_gaps + (k-1)
# (min over one-position-per-term combinations ≡ the sliding-window
# minimum). Constant-score filter context, doc_id order.
_INTERVALS_TERMS = ("batch", "row", "scan")  # query order ≠ doc order: unordered
_INTERVALS_MAX_GAPS = 3


def _intervals_sql() -> str:
    t0, t1, t2 = _INTERVALS_TERMS
    width = _INTERVALS_MAX_GAPS + len(_INTERVALS_TERMS) - 1
    return f"""
WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term,
                    generate_subscripts(string_split(text, ' '), 1) AS ord
             FROM documents),
a AS (SELECT doc_id, ord FROM tok WHERE term = '{t0}'),
b AS (SELECT doc_id, ord FROM tok WHERE term = '{t1}'),
c AS (SELECT doc_id, ord FROM tok WHERE term = '{t2}')
SELECT DISTINCT a.doc_id
FROM a JOIN b ON b.doc_id = a.doc_id JOIN c ON c.doc_id = a.doc_id
WHERE greatest(a.ord, b.ord, c.ord) - least(a.ord, b.ord, c.ord) <= {width}
"""


@register("ft_intervals_unordered", _intervals_sql())
def ft_intervals_unordered(spark, sf_dir):
    from search_replica_spark.query.bm25 import intervals_match

    idx = _positional_index_dir_for(spark, sf_dir)
    ids = intervals_match(
        _OrigIdReader(spark, idx),
        " ".join(_INTERVALS_TERMS),
        max_gaps=_INTERVALS_MAX_GAPS,
    )
    return spark.createDataFrame([(d,) for d in ids], "doc_id long")


# B5w: ES rank_feature query with the saturation function — score =
# S(x) = x / (x + pivot) over a per-doc numeric feature, here n_chars,
# gated by a filter-context term match (the idiomatic bool{filter:term,
# should:rank_feature} shape). Emitted in integer MICRO units
# ((x·1e6) // (x+pivot)) so the value-hash is bit-stable cross-engine;
# the engine answers the filter from the inverted index and joins the
# feature column from the corpus parquet (ES reads it from doc values —
# same column-store access pattern).
_RANK_FEATURE_TERM = "spark"
_RANK_FEATURE_PIVOT = 500


@register(
    "ft_rank_feature_top10",
    f"""WITH tok AS ({_TOK}),
        m AS (SELECT DISTINCT doc_id FROM tok WHERE term = '{_RANK_FEATURE_TERM}')
        SELECT d.doc_id,
               CAST((d.n_chars * 1000000) // (d.n_chars + {_RANK_FEATURE_PIVOT})
                    AS BIGINT) AS sat_micro
        FROM documents d JOIN m USING (doc_id)
        ORDER BY sat_micro DESC, d.doc_id LIMIT 10""",
)
def ft_rank_feature_top10(spark, sf_dir):
    from search_replica_spark.query.dsl import execute_dsl

    rd = _OrigIdReader(spark, _index_dir_for(spark, sf_dir))
    hits = execute_dsl(rd, {"constant_score": {
        "filter": {"match": {"content": _RANK_FEATURE_TERM}}}}, int(rd.n_docs))
    matched = spark.createDataFrame([(d,) for d, _s in hits], "doc_id long")
    d = load(spark, sf_dir, "documents")
    return (
        d.join(F.broadcast(matched), "doc_id")
        .select(
            "doc_id",
            F.expr(
                f"CAST((n_chars * 1000000) DIV (n_chars + {_RANK_FEATURE_PIVOT})"
                " AS BIGINT)"
            ).alias("sat_micro"),
        )
        .orderBy(F.col("sat_micro").desc(), F.col("doc_id").asc())
        .limit(10)
    )


# B5x: ES distance_feature query on a date field — score = boost ·
# pivot / (pivot + |field − origin|), the recency-boost primitive (newer
# events score toward 1, the pivot sets the half-life). Origin is the
# corpus max(ts) (ES's "now"-anchored idiom), derived as a 1-row
# broadcast; pivot = 7 days. Emitted in integer MICRO units
# ((pivot·1e6) // (pivot + Δsec)) so the hash is bit-stable.
_DF_PIVOT_SEC = 7 * 24 * 3600


@register(
    "ft_distance_feature_top10",
    f"""WITH o AS (SELECT CAST(epoch(date_trunc('second', max(ts))) AS BIGINT)
                     AS origin FROM events)
        SELECT event_id,
               CAST((CAST({_DF_PIVOT_SEC} AS BIGINT) * 1000000)
                    // ({_DF_PIVOT_SEC}
                        + abs(CAST(epoch(date_trunc('second', ts)) AS BIGINT)
                              - o.origin))
                    AS BIGINT) AS recency_micro
        FROM events CROSS JOIN o
        ORDER BY recency_micro DESC, event_id LIMIT 10""",
)
def ft_distance_feature_top10(spark, sf_dir):
    e = load(spark, sf_dir, "events")
    o = e.agg(F.unix_timestamp(F.max("ts")).alias("origin"))
    return (
        e.crossJoin(F.broadcast(o))
        .select(
            "event_id",
            F.expr(
                f"CAST((CAST({_DF_PIVOT_SEC} AS BIGINT) * 1000000)"
                f" DIV ({_DF_PIVOT_SEC} + abs(unix_timestamp(ts) - origin))"
                " AS BIGINT)"
            ).alias("recency_micro"),
        )
        .orderBy(F.col("recency_micro").desc(), F.col("event_id").asc())
        .limit(10)
    )


# B5dsl: the ES Query-DSL executor (query/dsl.py) run END-TO-END — a
# reference user's bool request JSON answered by the engine, against the
# same bool-composition oracle as ft_bm25_bool_top10. Proves the DSL
# walker's must/should/must_not composition is bit-identical to the
# direct primitive path.
@register("dsl_bool_query_top10", _bool_sql(10))
def dsl_bool_query_top10(spark, sf_dir):
    from search_replica_spark.query.dsl import execute_dsl

    idx = _index_dir_for(spark, sf_dir)
    q = {
        "query": {
            "bool": {
                "must": [{"match": {"content": "spark"}}],
                "should": [{"match": {"content": "join"}},
                           {"match": {"content": "window"}}],
                "must_not": [{"match": {"content": "hash"}}],
            }
        }
    }
    hits = execute_dsl(_OrigIdReader(spark, idx), q, k=10)
    rows = [(d, round(s, 6)) for d, s in hits]
    return spark.createDataFrame(rows, "doc_id long, score double")


# B5dm: ES dis_max through the DSL — score = best clause + tie_breaker ×
# the rest, the multi-field "pick the best field" combiner.
_DIS_MAX_SQL = f"""
WITH tok AS ({_TOK}),
dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
stats AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM dl),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok
       WHERE term IN ('spark', 'window') GROUP BY doc_id, term),
df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
per AS (SELECT tf.doc_id,
               ln(1 + (stats.n - df.df + 0.5) / (df.df + 0.5))
                 * tf.tf / (tf.tf + {K1} * (1 - {B} + {B} * dl.dl / stats.avgdl)) AS c
        FROM tf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN stats),
m AS (SELECT doc_id, max(c) AS mx, sum(c) AS sm FROM per GROUP BY doc_id)
SELECT doc_id, round(mx + 0.3 * (sm - mx), 6) AS score FROM m
ORDER BY mx + 0.3 * (sm - mx) DESC, doc_id LIMIT 10
"""


@register("dsl_dis_max_top10", _DIS_MAX_SQL)
def dsl_dis_max_top10(spark, sf_dir):
    from search_replica_spark.query.dsl import execute_dsl

    idx = _index_dir_for(spark, sf_dir)
    q = {"dis_max": {"tie_breaker": 0.3,
                     "queries": [{"match": {"content": "spark"}},
                                 {"match": {"content": "window"}}]}}
    hits = execute_dsl(_OrigIdReader(spark, idx), q, k=10)
    rows = [(d, round(s, 6)) for d, s in hits]
    return spark.createDataFrame(rows, "doc_id long, score double")


# B6dsl: the reference demo's OWN request (demo/README.md:41 curl
# --data-raw, parsed verbatim) over a parent/child JOIN-FIELD index built
# from customer (immaparent) + orders (immachild, join_parent=o_custkey).
# has_child resolves child→parent from the join_parent posting lists (ES
# global-ordinals analogue — one pruned dict range seek + one multi-term
# fetch); score_mode none scores 0, so ES order is doc_id asc.
_PC_CHILD_BASE = 10**9


def _pc_index_dir_for(spark, sf_dir) -> str:
    from search_replica_spark.config import IndexConfig
    from search_replica_spark.index.build import build_index

    tag = hashlib.sha1(sf_dir.encode()).hexdigest()[:10]
    out = f"/tmp/ssr_harness_pcidx_{tag}_v2"
    if not os.path.exists(os.path.join(out, "stats.json")):
        c = load(spark, sf_dir, "customer").select(
            F.lit("pc").alias("repo"),
            F.concat(F.lit("doc_"), F.col("c_custkey")).alias("path"),
            F.lit("0" * 40).alias("commit"),
            F.lit("en").alias("lang"),
            F.lower(F.col("c_mktsegment")).alias("content"),
            F.lit("immaparent").alias("join_name"),
            F.lit(None).cast("string").alias("join_parent"),
        )
        o = load(spark, sf_dir, "orders").select(
            F.lit("pc").alias("repo"),
            F.concat(F.lit("doc_"), (F.col("o_orderkey") + F.lit(_PC_CHILD_BASE))).alias("path"),
            F.lit("0" * 40).alias("commit"),
            F.lit("en").alias("lang"),
            F.concat(F.lit("order "), F.lower(F.col("o_orderstatus"))).alias("content"),
            F.lit("immachild").alias("join_name"),
            F.col("o_custkey").cast("string").alias("join_parent"),
        )
        build_index(
            spark, c.unionByName(o), out,
            IndexConfig(
                shuffle_partitions=8,
                input_columns=("repo", "path", "commit", "lang", "content",
                               "join_name", "join_parent"),
                field_analyzers=(("content", "text"),
                                 ("join_name", "keyword"),
                                 ("join_parent", "keyword")),
            ),
        )
    return out


_DEMO_REQUEST = (
    '{"query":{"bool": {"should": [ { "has_child": { "type": "immachild", '
    '"inner_hits": { "_source": true }, "query": { "match_all": {} }, '
    '"min_children": 1 } } ] } } }'
)


@register(
    "dsl_has_child_demo_top10",
    """SELECT c_custkey AS doc_id, CAST(0 AS BIGINT) AS score_micro
       FROM customer c
       WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
       ORDER BY doc_id LIMIT 10""",
)
def dsl_has_child_demo_top10(spark, sf_dir):
    import json as _json

    from search_replica_spark.query.dsl import execute_dsl

    idx = _pc_index_dir_for(spark, sf_dir)
    hits = execute_dsl(_OrigIdReader(spark, idx), _json.loads(_DEMO_REQUEST), k=10)
    rows = [(d, int(s)) for d, s in hits]
    return spark.createDataFrame(rows, "doc_id long, score_micro long")


# B6dsl2: has_child with a REAL inner query + min_children — b6c's count
# semantics ("parents with >= 3 children matching the filter") answered
# from the index alone, no parent table scan.
@register(
    "dsl_has_child_filtered_top10",
    """SELECT c_custkey AS doc_id, CAST(0 AS BIGINT) AS score_micro
       FROM customer c
       WHERE (SELECT count(*) FROM orders o
              WHERE o.o_custkey = c.c_custkey
                AND lower(o.o_orderstatus) = 'f') >= 3
       ORDER BY doc_id LIMIT 10""",
)
def dsl_has_child_filtered_top10(spark, sf_dir):
    from search_replica_spark.query.dsl import execute_dsl

    idx = _pc_index_dir_for(spark, sf_dir)
    q = {"has_child": {"type": "immachild", "min_children": 3,
                       "query": {"term": {"content": {"value": "f"}}}}}
    hits = execute_dsl(_OrigIdReader(spark, idx), q, k=10)
    rows = [(d, int(s)) for d, s in hits]
    return spark.createDataFrame(rows, "doc_id long, score_micro long")


# B5dsl3: more_like_this through the DSL by {"_id": ...} — reads the like
# document's STORED _source, selects MLT_MAX_TERMS interesting terms
# (tf·idf desc, term asc) and excludes the source from the hits (ES's
# default). Same oracle as the direct-primitive entry.
@register("dsl_mlt_top10", _mlt_sql(10))
def dsl_mlt_top10(spark, sf_dir):
    from search_replica_spark.query.dsl import execute_dsl

    idx = _index_dir_for(spark, sf_dir)
    src_id = int(load(spark, sf_dir, "documents").agg(F.min("doc_id")).collect()[0][0])
    q = {"more_like_this": {"like": {"_id": src_id}, "max_query_terms": MLT_MAX_TERMS}}
    hits = execute_dsl(_OrigIdReader(spark, idx), q, k=10)
    rows = [(d, round(s, 6)) for d, s in hits]
    return spark.createDataFrame(rows, "doc_id long, score double")


# B5dsl4: ES pinned query — the listed ids rank ABOVE every organic hit,
# in the given order (whether or not they match the organic query);
# organic hits follow in score order. Output is the RANK (deterministic
# integers), the quantity the pinned query actually defines.
@register(
    "dsl_pinned_top10",
    f"""
WITH tok AS ({_TOK}),
dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
stats AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM dl),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok
       WHERE term = 'spark' GROUP BY doc_id, term),
df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
sc AS (SELECT tf.doc_id,
              sum( ln(1 + (stats.n - df.df + 0.5) / (df.df + 0.5))
                   * tf.tf / (tf.tf + {K1} * (1 - {B} + {B} * dl.dl / stats.avgdl)) ) AS s
       FROM tf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
       GROUP BY tf.doc_id),
pins AS (SELECT max(doc_id) AS a, min(doc_id) AS b FROM documents),
u AS (
  SELECT a AS doc_id, 0 AS grp, 1 AS po, 0.0 AS negs FROM pins
  UNION ALL SELECT b, 0, 2, 0.0 FROM pins
  UNION ALL SELECT sc.doc_id, 1, 0, -sc.s FROM sc, pins
             WHERE sc.doc_id NOT IN (pins.a, pins.b)
)
SELECT doc_id, CAST(row_number() OVER (ORDER BY grp, po, negs, doc_id) AS BIGINT) AS rank
FROM u ORDER BY rank LIMIT 10""",
)
def dsl_pinned_top10(spark, sf_dir):
    from search_replica_spark.query.dsl import execute_dsl

    idx = _index_dir_for(spark, sf_dir)
    ends = load(spark, sf_dir, "documents").agg(
        F.max("doc_id").alias("a"), F.min("doc_id").alias("b")
    ).collect()[0]
    q = {"pinned": {"ids": [int(ends["a"]), int(ends["b"])],
                    "organic": {"match": {"content": "spark"}}}}
    hits = execute_dsl(_OrigIdReader(spark, idx), q, k=10)
    rows = [(d, i + 1) for i, (d, _s) in enumerate(hits)]
    return spark.createDataFrame(rows, "doc_id long, rank long")


# B5dsl5: function_score(field_value_factor ln1p, multiply) through the
# DSL — same oracle as the direct function_score_topk entry.
@register("dsl_function_score_top10", _FSCORE_SQL)
def dsl_function_score_top10(spark, sf_dir):
    from search_replica_spark.query.dsl import execute_dsl

    idx = _index_dir_for(spark, sf_dir)
    q = {"function_score": {"query": {"match": {"content": " ".join(BM25_QUERY_TERMS)}},
                            "field_value_factor": {"field": "doc_len",
                                                   "modifier": "ln1p"},
                            "boost_mode": "multiply"}}
    hits = execute_dsl(_OrigIdReader(spark, idx), q, k=10)
    rows = [(d, round(s, 6)) for d, s in hits]
    return spark.createDataFrame(rows, "doc_id long, score double")


# B5mbp: ES match_bool_prefix (search-as-you-type): every analyzed term a
# bool/should term clause (BM25), the LAST term a should PREFIX clause
# (constant score 1, uncapped rewrite so the LIKE oracle is exact).
@register(
    "dsl_match_bool_prefix_top10",
    f"""
WITH tok AS ({_TOK}),
dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
stats AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM dl),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok
       WHERE term = 'spark' GROUP BY doc_id, term),
df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
sc AS (SELECT tf.doc_id,
              sum( ln(1 + (stats.n - df.df + 0.5) / (df.df + 0.5))
                   * tf.tf / (tf.tf + {K1} * (1 - {B} + {B} * dl.dl / stats.avgdl)) ) AS s
       FROM tf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
       GROUP BY tf.doc_id),
p AS (SELECT DISTINCT doc_id FROM tok WHERE term LIKE 'jo%'),
u AS (SELECT coalesce(sc.doc_id, p.doc_id) AS doc_id,
             coalesce(sc.s, 0) + CASE WHEN p.doc_id IS NOT NULL THEN 1.0 ELSE 0 END AS s
      FROM sc FULL OUTER JOIN p ON sc.doc_id = p.doc_id)
SELECT doc_id, round(s, 6) AS score FROM u
ORDER BY s DESC, doc_id LIMIT 10""",
)
def dsl_match_bool_prefix_top10(spark, sf_dir):
    from search_replica_spark.query.dsl import execute_dsl

    idx = _index_dir_for(spark, sf_dir)
    q = {"match_bool_prefix": {"content": {"query": "spark jo",
                                           "max_expansions": None}}}
    hits = execute_dsl(_OrigIdReader(spark, idx), q, k=10)
    rows = [(d, round(s, 6)) for d, s in hits]
    return spark.createDataFrame(rows, "doc_id long, score double")


# B5mm2: ES multi_match type=best_fields over a FIELDED index — the query
# is analyzed per field and the doc scores its BEST field (dis_max,
# tie_breaker 0), vs the most_fields SUM the engine already serves.
_BEST_FIELDS_SQL = f"""
WITH tok AS ({_FIELDED_TOK}),
dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
stats AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM dl),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok
       WHERE term IN ('content:de', 'lang:de') GROUP BY doc_id, term),
df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
per AS (SELECT tf.doc_id,
               ln(1 + (stats.n - df.df + 0.5) / (df.df + 0.5))
                 * tf.tf / (tf.tf + {K1} * (1 - {B} + {B} * dl.dl / stats.avgdl)) AS c
        FROM tf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN stats)
SELECT doc_id, round(max(c), 6) AS score FROM per GROUP BY doc_id
ORDER BY max(c) DESC, doc_id LIMIT 10
"""


@register("dsl_multi_match_best_fields", _BEST_FIELDS_SQL)
def dsl_multi_match_best_fields(spark, sf_dir):
    from search_replica_spark.query.dsl import execute_dsl

    idx = _fielded_index_dir_for(spark, sf_dir)
    q = {"multi_match": {"query": "de", "fields": ["content", "lang"],
                         "type": "best_fields"}}
    hits = execute_dsl(_OrigIdReader(spark, idx), q, k=10)
    rows = [(d, round(s, 6)) for d, s in hits]
    return spark.createDataFrame(rows, "doc_id long, score double")


# B5fis: ES frequent_item_sets aggregation (2-item sets): which token
# PAIRS co-occur in the most documents. Item vocabulary is capped at the
# FIS_VOCAB highest-df terms (df desc, term asc — deterministic), so the
# per-doc pair fan-out is bounded by |V|²/2 regardless of corpus size;
# pairs come from ONE groupBy collect_set + double explode (never a
# corpus self-join, which would scan the token subtree twice), then one
# count per pair — two bounded shuffles at any scale.
FIS_VOCAB = 30


@register(
    "dsl_frequent_item_sets",
    f"""
WITH tok AS ({_TOK}),
v AS (SELECT term FROM (
        SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY term
        ORDER BY df DESC, term LIMIT {FIS_VOCAB})),
t AS (SELECT DISTINCT doc_id, term FROM tok
      WHERE term IN (SELECT term FROM v)),
p AS (SELECT a.term AS item_a, b.term AS item_b
      FROM t a JOIN t b ON a.doc_id = b.doc_id AND a.term < b.term)
SELECT item_a, item_b, count(*) AS support FROM p
GROUP BY item_a, item_b ORDER BY support DESC, item_a, item_b LIMIT 10""",
)
def dsl_frequent_item_sets(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    v = (
        tok.groupBy("term")
        .agg(F.countDistinct("doc_id").alias("df"))
        .orderBy(F.col("df").desc(), F.col("term").asc())
        .limit(FIS_VOCAB)
        .select("term")
    )
    t = tok.join(F.broadcast(v), "term").select("doc_id", "term").distinct()
    items = t.groupBy("doc_id").agg(F.sort_array(F.collect_set("term")).alias("items"))
    pairs = (
        items.select(F.explode("items").alias("item_a"), "items")
        .select("item_a", F.explode("items").alias("item_b"))
        .filter(F.col("item_a") < F.col("item_b"))
    )
    return (
        pairs.groupBy("item_a", "item_b")
        .agg(F.count("*").alias("support"))
        .orderBy(F.col("support").desc(), "item_a", "item_b")
        .limit(10)
    )


# B5req: the /_search REQUEST shim end-to-end — query + aggs in ONE body
# (execute_request): the terms agg counts the docs-store rows of the
# matched set, read in the driver (``IndexReader.stored_fields``),
# exactly what a reference user's dashboard request does today.
@register(
    "dsl_request_terms_agg",
    f"""WITH tok AS ({_TOK}),
        m AS (SELECT DISTINCT doc_id FROM tok WHERE term = 'spark')
        SELECT lang AS key, count(*) AS doc_count
        FROM documents JOIN m USING (doc_id)
        GROUP BY lang ORDER BY doc_count DESC, key LIMIT 3""",
)
def dsl_request_terms_agg(spark, sf_dir):
    from search_replica_spark.query.dsl import execute_request

    idx = _index_dir_for(spark, sf_dir)
    r = execute_request(
        _OrigIdReader(spark, idx),
        {"query": {"match": {"content": "spark"}}, "size": 0,
         "aggs": {"langs": {"terms": {"field": "lang", "size": 3}}}},
    )
    rows = [(b["key"], b["doc_count"]) for b in r["aggregations"]["langs"]["buckets"]]
    return spark.createDataFrame(rows, "key string, doc_count long")


# B5st: ES significant_text aggregation — the free-text terms OVER-
# represented in the docs matching a query vs the whole corpus
# ({"significant_text": {"field": "content"}} under a query). Score is
# the relative risk (fg%/bg%) in integer MICRO (exact BIGINT arithmetic),
# the monotone core of ES's JLH/mutual-information family; the query term
# itself and sub-3-doc foregrounds are excluded (ES's min_doc_count).
@register(
    "agg_significant_text",
    f"""
WITH tok AS ({_TOK}),
fg AS (SELECT DISTINCT doc_id FROM tok WHERE term = 'spark'),
tot AS (SELECT (SELECT count(*) FROM documents) AS n_total,
               (SELECT count(*) FROM fg) AS n_fg),
fgdf AS (SELECT term, count(DISTINCT t.doc_id) AS fg_df
         FROM tok t JOIN fg USING (doc_id) GROUP BY term),
bgdf AS (SELECT term, count(DISTINCT doc_id) AS bg_df FROM tok GROUP BY term)
SELECT term, fg_df,
       CAST((fg_df * n_total * 1000000) // (bg_df * n_fg) AS BIGINT) AS lift_micro
FROM fgdf JOIN bgdf USING (term) CROSS JOIN tot
WHERE term <> 'spark' AND fg_df >= 3
ORDER BY lift_micro DESC, term LIMIT 10""",
)
def agg_significant_text(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    fg = tok.filter(F.col("term") == "spark").select("doc_id").distinct()
    tot = d.agg(F.count("*").alias("n_total")).crossJoin(
        fg.agg(F.count("*").alias("n_fg"))
    )
    fgdf = (
        tok.join(F.broadcast(fg), "doc_id")
        .groupBy("term")
        .agg(F.countDistinct("doc_id").alias("fg_df"))
    )
    bgdf = tok.groupBy("term").agg(F.countDistinct("doc_id").alias("bg_df"))
    return (
        fgdf.join(bgdf, "term")
        .crossJoin(F.broadcast(tot))
        .filter((F.col("term") != "spark") & (F.col("fg_df") >= 3))
        .select(
            "term", "fg_df",
            F.expr(
                "CAST((fg_df * n_total * 1000000) DIV (bg_df * n_fg) AS BIGINT)"
            ).alias("lift_micro"),
        )
        .orderBy(F.col("lift_micro").desc(), F.col("term").asc())
        .limit(10)
    )


# B5qs: ES query_string — the full-Lucene mini language ("spark AND (join
# OR window) AND NOT hash"): AND intersects and sums, OR unions and sums,
# NOT excludes, AND binds tighter than OR. Leaves are the verified BM25
# primitives; the oracle gates on EXISTS predicates and sums the matched
# scoring terms — Lucene's BooleanQuery rewrite, spelled in SQL.
@register(
    "dsl_query_string_top10",
    f"""
WITH tok AS ({_TOK}),
dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
stats AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM dl),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok
       WHERE term IN ('spark', 'join', 'window') GROUP BY doc_id, term),
df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
sc AS (SELECT tf.doc_id,
              sum( ln(1 + (stats.n - df.df + 0.5) / (df.df + 0.5))
                   * tf.tf / (tf.tf + {K1} * (1 - {B} + {B} * dl.dl / stats.avgdl)) ) AS s
       FROM tf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
       GROUP BY tf.doc_id)
SELECT doc_id, round(s, 6) AS score FROM sc
WHERE EXISTS (SELECT 1 FROM tok m WHERE m.doc_id = sc.doc_id AND m.term = 'spark')
  AND (EXISTS (SELECT 1 FROM tok m WHERE m.doc_id = sc.doc_id AND m.term = 'join')
       OR EXISTS (SELECT 1 FROM tok m WHERE m.doc_id = sc.doc_id AND m.term = 'window'))
  AND NOT EXISTS (SELECT 1 FROM tok m WHERE m.doc_id = sc.doc_id AND m.term = 'hash')
ORDER BY s DESC, doc_id LIMIT 10""",
)
def dsl_query_string_top10(spark, sf_dir):
    from search_replica_spark.query.dsl import execute_dsl

    idx = _index_dir_for(spark, sf_dir)
    q = {"query_string": {"query": "spark AND (join OR window) AND NOT hash"}}
    hits = execute_dsl(_OrigIdReader(spark, idx), q, k=10)
    rows = [(d, round(s, 6)) for d, s in hits]
    return spark.createDataFrame(rows, "doc_id long, score double")


# B5cf: ES combined_fields through the DSL — one query string ("de")
# scored across content^2 and lang^0.5 with per-field norms (BM25F);
# oracle = the boosted per-field contributions summed, same construction
# as _FNORM_BOOST_SQL with the query analyzed into BOTH fields.
_COMBINED_FIELDS_SQL = f"""
WITH tokc AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
dlc AS (SELECT doc_id, count(*) AS dl FROM tokc GROUP BY doc_id),
statc AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM dlc),
statl AS (SELECT count(*) AS n FROM documents WHERE lang IS NOT NULL),
tfc AS (SELECT doc_id, count(*) AS tf FROM tokc WHERE term = 'de' GROUP BY doc_id),
dfc AS (SELECT count(*) AS df FROM tfc),
tfl AS (SELECT doc_id FROM documents WHERE lang = 'de'),
dfl AS (SELECT count(*) AS df FROM tfl),
contrib AS (
  SELECT tfc.doc_id,
         2.0 * ln(1 + (statc.n - dfc.df + 0.5) / (dfc.df + 0.5))
         * tfc.tf / (tfc.tf + {K1} * (1 - {B} + {B} * dlc.dl / statc.avgdl)) AS s
  FROM tfc JOIN dlc USING (doc_id) CROSS JOIN dfc CROSS JOIN statc
  UNION ALL
  SELECT tfl.doc_id,
         0.5 * ln(1 + (statl.n - dfl.df + 0.5) / (dfl.df + 0.5))
         * (1.0 / (1.0 + {K1})) AS s
  FROM tfl CROSS JOIN dfl CROSS JOIN statl
),
sc AS (SELECT doc_id, sum(s) AS s FROM contrib GROUP BY doc_id)
SELECT doc_id, round(s, 6) AS score FROM sc ORDER BY s DESC, doc_id LIMIT 10
"""


@register("dsl_combined_fields_top10", _COMBINED_FIELDS_SQL)
def dsl_combined_fields_top10(spark, sf_dir):
    from search_replica_spark.query.dsl import execute_dsl

    idx = _fielded_index_dir_for(spark, sf_dir)
    q = {"combined_fields": {"query": "de", "fields": ["content^2", "lang^0.5"]}}
    hits = execute_dsl(_OrigIdReader(spark, idx), q, k=10)
    rows = [(d, round(s, 6)) for d, s in hits]
    return spark.createDataFrame(rows, "doc_id long, score double")


# B5so: span_near over a span_or clause — Lucene span ALGEBRA: the middle
# clause matches ANY of its alternatives, the ordered chain / slop /
# weighting are span_near's spec, and the clause idf uses the UNION df.
SPAN_OR_FIRST, SPAN_OR_ALTS, SPAN_OR_LAST = "row", ("scan", "filter"), "batch"


def _span_or_sql(limit: int) -> str:
    a, (b1, b2), c = SPAN_OR_FIRST, SPAN_OR_ALTS, SPAN_OR_LAST
    return f"""
WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term,
                    generate_subscripts(string_split(text, ' '), 1) AS ord
             FROM documents),
dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
stats AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM dl),
dfa AS (SELECT count(DISTINCT doc_id) AS df FROM tok WHERE term = '{a}'),
dfb AS (SELECT count(DISTINCT doc_id) AS df FROM tok WHERE term IN ('{b1}', '{b2}')),
dfc AS (SELECT count(DISTINCT doc_id) AS df FROM tok WHERE term = '{c}'),
idfsum AS (SELECT ln(1 + (stats.n - dfa.df + 0.5) / (dfa.df + 0.5))
                + ln(1 + (stats.n - dfb.df + 0.5) / (dfb.df + 0.5))
                + ln(1 + (stats.n - dfc.df + 0.5) / (dfc.df + 0.5)) AS v
           FROM dfa CROSS JOIN dfb CROSS JOIN dfc CROSS JOIN stats),
a AS (SELECT doc_id, ord FROM tok WHERE term = '{a}'),
b AS (SELECT doc_id, ord FROM tok WHERE term IN ('{b1}', '{b2}')),
c AS (SELECT doc_id, ord FROM tok WHERE term = '{c}'),
s1 AS (SELECT a.doc_id, a.ord AS p0, min(b.ord) AS p1
       FROM a JOIN b ON b.doc_id = a.doc_id AND b.ord > a.ord
       GROUP BY a.doc_id, a.ord),
s2 AS (SELECT s1.doc_id, s1.p0, min(c.ord) AS p2
       FROM s1 JOIN c ON c.doc_id = s1.doc_id AND c.ord > s1.p1
       GROUP BY s1.doc_id, s1.p0),
ptf AS (SELECT doc_id, sum(1.0 / (p2 - p0 - 2 + 1)) AS ptf FROM s2
        WHERE p2 - p0 - 2 <= {SPAN_SLOP} GROUP BY doc_id)
SELECT ptf.doc_id,
       round(idfsum.v * ptf.ptf
             / (ptf.ptf + {K1} * (1 - {B} + {B} * dl.dl / stats.avgdl)), 6) AS score
FROM ptf JOIN dl USING (doc_id) CROSS JOIN stats CROSS JOIN idfsum
ORDER BY idfsum.v * ptf.ptf / (ptf.ptf + {K1} * (1 - {B} + {B} * dl.dl / stats.avgdl)) DESC,
         ptf.doc_id
LIMIT {limit}
"""


@register("ft_span_near_or_top10", _span_or_sql(10))
def ft_span_near_or_top10(spark, sf_dir):
    from search_replica_spark.query.bm25 import span_near_or_topk

    idx = _positional_index_dir_for(spark, sf_dir)
    hits = span_near_or_topk(
        _OrigIdReader(spark, idx),
        [[SPAN_OR_FIRST], list(SPAN_OR_ALTS), [SPAN_OR_LAST]],
        10, slop=SPAN_SLOP,
    )
    rows = [(d, round(s, 6)) for d, s in hits]
    return spark.createDataFrame(rows, "doc_id long, score double")


# B5sn: ES span_not — occurrences of the include term with NO exclude
# occurrence within [pre, post] positions ("a but not near b"); tf = the
# surviving occurrences, scored with the plain BM25 term formula over the
# include term's df (exclusion changes tf, never the stats — Lucene
# does the same).
SPAN_NOT_INC, SPAN_NOT_EXC, SPAN_NOT_PRE, SPAN_NOT_POST = "table", "hash", 1, 2


@register(
    "ft_span_not_top10",
    f"""
WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term,
                    generate_subscripts(string_split(text, ' '), 1) AS ord
             FROM documents),
dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
stats AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM dl),
dfi AS (SELECT count(DISTINCT doc_id) AS df FROM tok WHERE term = '{SPAN_NOT_INC}'),
a AS (SELECT doc_id, ord FROM tok WHERE term = '{SPAN_NOT_INC}'),
b AS (SELECT doc_id, ord FROM tok WHERE term = '{SPAN_NOT_EXC}'),
surv AS (SELECT a.doc_id, count(*) AS tf FROM a
         WHERE NOT EXISTS (SELECT 1 FROM b
                           WHERE b.doc_id = a.doc_id
                             AND b.ord BETWEEN a.ord - {SPAN_NOT_PRE}
                                           AND a.ord + {SPAN_NOT_POST})
         GROUP BY a.doc_id)
SELECT surv.doc_id,
       round(ln(1 + (stats.n - dfi.df + 0.5) / (dfi.df + 0.5)) * surv.tf
             / (surv.tf + {K1} * (1 - {B} + {B} * dl.dl / stats.avgdl)), 6) AS score
FROM surv JOIN dl USING (doc_id) CROSS JOIN stats CROSS JOIN dfi
ORDER BY ln(1 + (stats.n - dfi.df + 0.5) / (dfi.df + 0.5)) * surv.tf
         / (surv.tf + {K1} * (1 - {B} + {B} * dl.dl / stats.avgdl)) DESC,
         surv.doc_id
LIMIT 10""",
)
def ft_span_not_top10(spark, sf_dir):
    from search_replica_spark.query.bm25 import span_not_topk

    idx = _positional_index_dir_for(spark, sf_dir)
    hits = span_not_topk(
        _OrigIdReader(spark, idx), SPAN_NOT_INC, SPAN_NOT_EXC,
        pre=SPAN_NOT_PRE, post=SPAN_NOT_POST, k=10,
    )
    rows = [(d, round(s, 6)) for d, s in hits]
    return spark.createDataFrame(rows, "doc_id long, score double")


# B5pc2: the percolator STORE path end-to-end — the same five registered
# queries written through query/percolator.py (analyzed, conjunctive),
# then percolate_corpus's broadcast equi-join + count gate; same oracle
# as the inline-table percolate entry, so the store layer is EXACT-pinned.
@register("dsl_percolate_store", _percolate_sql())
def dsl_percolate_store(spark, sf_dir):
    from search_replica_spark.query.percolator import (
        percolate_corpus,
        register_queries,
    )

    tag = hashlib.sha1(sf_dir.encode()).hexdigest()[:10]
    host = f"/tmp/ssr_perc_host_{tag}_v1"
    register_queries(
        spark, host, [(qid, " ".join(terms)) for qid, terms in PERCOLATE_QUERIES]
    )
    d = load(spark, sf_dir, "documents")
    return percolate_corpus(spark, host, d, text_col="text")


# B5v2: intervals all_of over an any_of ALTERNATION — the middle source
# matches at any of its alternatives' positions; the min-cover/gaps spec
# is the verified intervals_match's, the group position list its union.
_IV_ANY_FIRST, _IV_ANY_ALTS, _IV_ANY_GAPS = "batch", ("row", "column"), 3


@register(
    "ft_intervals_any_of",
    f"""
WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term,
                    generate_subscripts(string_split(text, ' '), 1) AS ord
             FROM documents),
a AS (SELECT doc_id, ord FROM tok WHERE term = '{_IV_ANY_FIRST}'),
b AS (SELECT doc_id, ord FROM tok WHERE term IN ('{_IV_ANY_ALTS[0]}', '{_IV_ANY_ALTS[1]}'))
SELECT DISTINCT a.doc_id
FROM a JOIN b ON b.doc_id = a.doc_id
WHERE greatest(a.ord, b.ord) - least(a.ord, b.ord) <= {_IV_ANY_GAPS + 1}""",
)
def ft_intervals_any_of(spark, sf_dir):
    from search_replica_spark.query.bm25 import intervals_groups_match

    idx = _positional_index_dir_for(spark, sf_dir)
    ids = intervals_groups_match(
        _OrigIdReader(spark, idx),
        [[_IV_ANY_FIRST], list(_IV_ANY_ALTS)],
        max_gaps=_IV_ANY_GAPS,
    )
    return spark.createDataFrame([(d,) for d in ids], "doc_id long")
