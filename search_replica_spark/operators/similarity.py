"""The harness check of the replica's ``knn`` request kind, over the
``embeddings`` table (array<float>, 64-dim).

``dsl_knn_search_top10`` builds the co-located IVF store and answers
through ``query.knn.knn_query``, the same code a ``/_search`` knn body
runs; its DuckDB twin recomputes the centroids, the probe rule and the
cosine scores from the same parquet, with a sequential left-fold sum, so
rounded scores compare exactly.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from search_replica_spark.operators import load, register

QUERY_VEC_ID = 0


# ES 8 kNN SEARCH SECTION ("knn": {...} in the /_search body) end-to-end:
# the co-located IVF store (centroids + label-partitioned vectors under
# <index_dir>/knn/) probed until the candidate pool reaches
# num_candidates, exact cosine inside the probed partitions. The oracle
# recomputes centroids, the CUMULATIVE-size probe rule, and the scores
# from the same parquet — the whole knn path, not just the final scan.
KNN_NUM_CANDIDATES = 150


_KNN_SQL = f"""
WITH e AS (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
           FROM embeddings),
q AS (SELECT emb AS qe FROM e WHERE vec_id = {QUERY_VEC_ID}),
pos AS (SELECT label, t.i AS i, emb[CAST(t.i AS INT) + 1] AS v FROM e, range(64) t(i)),
cent AS (SELECT label, i, avg(v) AS c FROM pos GROUP BY label, i),
centv AS (SELECT label, list(c ORDER BY i) AS centroid FROM cent GROUP BY label),
sizes AS (SELECT label, count(*) AS sz FROM e GROUP BY label),
ordv AS (SELECT centv.label, sizes.sz,
                list_sum(list_transform(list_zip(centroid, qe), x -> x[1] * x[2]))
                / ( sqrt(list_sum(list_transform(centroid, x -> x * x)))
                  * sqrt(list_sum(list_transform(qe, x -> x * x))) ) AS simc
         FROM centv JOIN sizes USING (label), q),
cum AS (SELECT label, sz, sum(sz) OVER (ORDER BY simc DESC, label) AS cumsz FROM ordv),
probe AS (SELECT label FROM cum WHERE cumsz - sz < {KNN_NUM_CANDIDATES})
SELECT e.vec_id,
       round(
         list_sum(list_transform(list_zip(e.emb, q.qe), x -> x[1] * x[2]))
         / ( sqrt(list_sum(list_transform(e.emb, x -> x * x)))
           * sqrt(list_sum(list_transform(q.qe, x -> x * x))) ),
         5) AS sim
FROM e JOIN probe USING (label), q
ORDER BY sim DESC, e.vec_id LIMIT 10
"""


def knn_host_dir(sf_dir: str) -> str:
    """The directory ``dsl_knn_search_top10`` writes its knn store under
    (a store host needs no text index)."""
    import hashlib as _h

    return f"/tmp/ssr_knn_host_{_h.sha1(sf_dir.encode()).hexdigest()[:10]}_v1"


@register("dsl_knn_search_top10", _KNN_SQL)
def dsl_knn_search_top10(spark, sf_dir):
    import os

    from search_replica_spark.query.knn import build_knn_store, knn_store_dir, knn_query

    host = knn_host_dir(sf_dir)
    if not os.path.exists(os.path.join(knn_store_dir(host), "centroids", "_SUCCESS")):
        build_knn_store(spark, load(spark, sf_dir, "embeddings"), host)
    qvec = (
        load(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") == QUERY_VEC_ID)
        .select("embedding")
        .first()[0]
    )
    hits = knn_query(host, [float(x) for x in qvec], k=10,
                     num_candidates=KNN_NUM_CANDIDATES)
    return spark.createDataFrame(hits, "vec_id long, sim double")
