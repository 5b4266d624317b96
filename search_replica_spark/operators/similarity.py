"""Similarity search over the ``embeddings`` table (array<float>, 64-dim).

Brute-force cosine top-k is the exact baseline (SQL-oracle-checked); the
IVF variant is the scale path: centroid per label, probe the nearest
n_probe clusters, exact search only inside them. At 100 TB the IVF probe
turns a full-corpus scan into a partition-pruned read of ~n_probe/k of the
data (embeddings stored partitioned by cluster id).

All arithmetic in float64 with a sequential left-fold sum, matching the
DuckDB oracle's list_sum order, so rounded scores compare exactly.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from search_replica_spark.operators import load, register

QUERY_VEC_ID = 0
EMB_DIM = 64  # embeddings-table contract (the SQL twins hardcode range(64))


def _dot(a, b):
    # the sequential left-fold (matches the twin's list_sum order). A
    # 64-term chained-arithmetic rewrite was MEASURED SLOWER here (the
    # expression tree blows past codegen limits and falls back to
    # interpreted eval per term) — the fold stays; rows at these entries
    # are few and the cost is job overhead, not the fold.
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def _as_double(col):
    return F.transform(col, lambda x: x.cast("double"))


def _cosine_topk_sql(select_extra: str = "", where_extra: str = "") -> str:
    """One cosine-top-10 twin, parameterized — the plain and filtered kNN
    entries must never drift apart on the similarity expression."""
    return f"""
WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = {QUERY_VEC_ID})
SELECT e.vec_id,{select_extra}
       round(
         list_sum(list_transform(list_zip(e.embedding, q.qe),
                                 x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
         / ( sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
           * sqrt(list_sum(list_transform(q.qe, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) ),
         5) AS sim
FROM embeddings e, q
WHERE e.vec_id <> {QUERY_VEC_ID}{where_extra}
ORDER BY sim DESC, e.vec_id LIMIT 10
"""


def _cosine_topk_spark(spark, sf_dir, extra_cols=(), flt=None):
    """Spark half of the shared cosine-top-10 shape: broadcast the 1-row
    query vector, exact cosine over the (optionally pre-filtered) rest."""
    e = load(spark, sf_dir, "embeddings").withColumn("emb", _as_double(F.col("embedding")))
    q = e.filter(F.col("vec_id") == QUERY_VEC_ID).select(F.col("emb").alias("qemb"))
    base = e.filter(F.col("vec_id") != QUERY_VEC_ID)
    if flt is not None:
        base = base.filter(flt)
    joined = base.crossJoin(F.broadcast(q))
    sim = _dot(F.col("emb"), F.col("qemb")) / (
        F.sqrt(_dot(F.col("emb"), F.col("emb"))) * F.sqrt(_dot(F.col("qemb"), F.col("qemb")))
    )
    out = joined.select("vec_id", *extra_cols, F.round(sim, 5).alias("sim"))
    return out.orderBy(F.col("sim").desc(), F.col("vec_id").asc()).limit(10)


_COSINE_SQL = _cosine_topk_sql()


@register("ann_cosine_top10", _COSINE_SQL)
def ann_cosine_top10(spark, sf_dir):
    return _cosine_topk_spark(spark, sf_dir)


# IVF-style bucketed ANN. Centroids per label, probe the 2 nearest, exact
# search inside (recall vs brute force additionally asserted in pytest).
# The DuckDB twin recomputes centroids/probes/scores from the same parquet,
# so the whole IVF pipeline — not just the final scan — is oracle-checked.
_IVF_SQL = f"""
WITH e AS (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
           FROM embeddings),
q AS (SELECT emb AS qe FROM e WHERE vec_id = {QUERY_VEC_ID}),
pos AS (SELECT label, t.i AS i, emb[CAST(t.i AS INT) + 1] AS v FROM e, range(64) t(i)),
cent AS (SELECT label, i, avg(v) AS c FROM pos GROUP BY label, i),
centv AS (SELECT label, list(c ORDER BY i) AS centroid FROM cent GROUP BY label),
probe AS (
  SELECT label FROM centv, q
  ORDER BY list_sum(list_transform(list_zip(centroid, qe), x -> x[1] * x[2]))
           / ( sqrt(list_sum(list_transform(centroid, x -> x * x)))
             * sqrt(list_sum(list_transform(qe, x -> x * x))) ) DESC, label
  LIMIT 2
)
SELECT e.vec_id, e.label,
       round(
         list_sum(list_transform(list_zip(e.emb, q.qe), x -> x[1] * x[2]))
         / ( sqrt(list_sum(list_transform(e.emb, x -> x * x)))
           * sqrt(list_sum(list_transform(q.qe, x -> x * x))) ),
         5) AS sim
FROM e JOIN probe USING (label), q
WHERE e.vec_id <> {QUERY_VEC_ID}
ORDER BY sim DESC, e.vec_id LIMIT 10
"""


@register("ann_ivf_top10", _IVF_SQL)
def ann_ivf_top10(spark, sf_dir):
    e = load(spark, sf_dir, "embeddings").withColumn("emb", _as_double(F.col("embedding")))
    # centroids: posexplode + groupBy(label, pos) — scales to any n_vectors
    # (never collects raw vectors; centroid table is tiny: n_labels × dim)
    pos = e.select("label", F.posexplode("emb").alias("pos", "v"))
    cent = (
        pos.groupBy("label", "pos")
        .agg(F.avg("v").alias("c"))
        .groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "c"))).alias("pc"))
        .select("label", F.transform("pc", lambda s: s.getField("c")).alias("centroid"))
    )
    cent_pd = cent.toPandas()
    qvec = np.array(
        e.filter(F.col("vec_id") == QUERY_VEC_ID).select("emb").first()[0], dtype=np.float64
    )
    probe = probe_labels(cent_pd, qvec, n_probe=2)

    cand = e.filter(F.col("label").isin(probe) & (F.col("vec_id") != QUERY_VEC_ID))
    q = e.filter(F.col("vec_id") == QUERY_VEC_ID).select(F.col("emb").alias("qemb"))
    joined = cand.crossJoin(F.broadcast(q))
    sim = _dot(F.col("emb"), F.col("qemb")) / (
        F.sqrt(_dot(F.col("emb"), F.col("emb"))) * F.sqrt(_dot(F.col("qemb"), F.col("qemb")))
    )
    out = joined.select("vec_id", "label", F.round(sim, 5).alias("sim"))
    return out.orderBy(F.col("sim").desc(), F.col("vec_id").asc()).limit(10)


def probe_labels(cent_pdf: pd.DataFrame, qvec: np.ndarray, n_probe: int) -> list[int]:
    """Nearest-centroid probe selection (cosine, deterministic tie-break)."""
    sims = []
    for r in cent_pdf.itertuples():
        c = np.array(r.centroid, dtype=np.float64)
        denom = np.linalg.norm(c) * np.linalg.norm(qvec)
        sims.append((int(r.label), float(c @ qvec / denom) if denom else 0.0))
    return [lab for lab, _ in sorted(sims, key=lambda t: (-t[1], t[0]))[:n_probe]]


def centroids_pandas(emb_pdf: pd.DataFrame) -> pd.DataFrame:
    """NumPy reference for the Spark centroid computation: label → centroid."""
    rows = []
    for lab, g in emb_pdf.groupby("label"):
        mat = np.stack(g["embedding"].map(lambda v: np.asarray(v, dtype=np.float64)))
        rows.append({"label": int(lab), "centroid": mat.mean(axis=0)})
    return pd.DataFrame(rows)


def ann_brute_force_pandas(emb_pdf: pd.DataFrame, query_vec_id: int, k: int) -> list[int]:
    """NumPy reference for recall tests: top-k vec_ids by cosine."""
    mat = np.stack(emb_pdf["embedding"].map(lambda v: np.asarray(v, dtype=np.float64)))
    ids = emb_pdf["vec_id"].to_numpy()
    q = mat[ids == query_vec_id][0]
    sims = mat @ q / (np.linalg.norm(mat, axis=1) * np.linalg.norm(q))
    order = np.lexsort((ids, -sims))
    return [int(ids[i]) for i in order if ids[i] != query_vec_id][:k]


N_HYPERPLANES = 12
LSH_SEED = 7


def _hyperplanes(dim: int) -> np.ndarray:
    rng = np.random.default_rng(LSH_SEED)
    return rng.standard_normal((N_HYPERPLANES, dim))


def _dot_sql(vec_expr: str, plane: np.ndarray) -> str:
    """DuckDB dot product of a list column with a literal hyperplane.
    repr(float) round-trips, so the literal parses to the bit-identical
    double that Spark's F.lit(float(x)) carries."""
    lit = "[" + ", ".join(repr(float(x)) for x in plane) + "]"
    return (
        f"list_sum(list_transform(list_zip({vec_expr}, {lit}), x -> x[1] * x[2]))"
    )


def _bucket_sql_expr(vec_expr: str, H: np.ndarray, bits: range) -> str:
    """Sign-bit bucket code over the given hyperplane indices (SQL twin of
    the Spark bucket_col below — same planes, same bit weights)."""
    parts = [
        f"(CASE WHEN {_dot_sql(vec_expr, H[i])} > 0 THEN {1 << j} ELSE 0 END)"
        for j, i in enumerate(bits)
    ]
    return "(" + " + ".join(parts) + ")"


def _lsh_sql() -> str:
    H = _hyperplanes(64)  # testdata embeddings are 64-dim
    bucket = _bucket_sql_expr("emb", H, range(N_HYPERPLANES))
    return f"""
WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
           FROM embeddings),
b AS (SELECT vec_id, emb, {bucket} AS bucket FROM e),
qb AS (SELECT emb AS qe, bucket AS qbucket FROM b WHERE vec_id = {QUERY_VEC_ID})
SELECT b.vec_id, b.bucket,
       round(
         list_sum(list_transform(list_zip(b.emb, qb.qe), x -> x[1] * x[2]))
         / ( sqrt(list_sum(list_transform(b.emb, x -> x * x)))
           * sqrt(list_sum(list_transform(qb.qe, x -> x * x))) ),
         5) AS sim
FROM b, qb
WHERE b.vec_id <> {QUERY_VEC_ID}
  AND (b.bucket = qb.qbucket
       OR bit_count(xor(CAST(b.bucket AS BIGINT), CAST(qb.qbucket AS BIGINT))) = 1)
ORDER BY sim DESC, b.vec_id LIMIT 10
"""


# Random-hyperplane LSH bucketing (exactness-within-bucket additionally
# asserted in pytest). The scale path: embeddings stored partitioned by
# bucket; a query touches one bucket (plus hamming-1 neighbors for recall),
# turning a full-corpus scan into a ~1/2^H partition-pruned read. The DuckDB
# twin recomputes buckets from the same seeded hyperplanes (as literals).
@register("ann_lsh_top10", _lsh_sql())
def ann_lsh_top10(spark, sf_dir):
    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", "label", _as_double(F.col("embedding")).alias("emb")
    )
    H = _hyperplanes(EMB_DIM)  # the table contract — no .first() probe job

    # bucket = sign-bit code of dot products with the broadcast hyperplanes
    def bucket_col(emb_col):
        bits = [
            F.when(
                F.aggregate(
                    F.zip_with(
                        emb_col,
                        F.array(*[F.lit(float(x)) for x in H[i]]),
                        lambda a, b: a * b,
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
                > 0,
                F.lit(1 << i),
            ).otherwise(F.lit(0))
            for i in range(N_HYPERPLANES)
        ]
        out = bits[0]
        for b in bits[1:]:
            out = out + b
        return out

    eb = e.withColumn("bucket", bucket_col(F.col("emb")))
    qrow = eb.filter(F.col("vec_id") == QUERY_VEC_ID).select("emb", "bucket").first()
    qbucket = int(qrow["bucket"])
    # probe the query's bucket plus all hamming-1 neighbors
    probes = [qbucket] + [qbucket ^ (1 << i) for i in range(N_HYPERPLANES)]
    cand = eb.filter(F.col("bucket").isin(probes) & (F.col("vec_id") != QUERY_VEC_ID))
    q = eb.filter(F.col("vec_id") == QUERY_VEC_ID).select(F.col("emb").alias("qemb"))
    joined = cand.crossJoin(F.broadcast(q))
    sim = _dot(F.col("emb"), F.col("qemb")) / (
        F.sqrt(_dot(F.col("emb"), F.col("emb"))) * F.sqrt(_dot(F.col("qemb"), F.col("qemb")))
    )
    out = joined.select("vec_id", "bucket", F.round(sim, 5).alias("sim"))
    return out.orderBy(F.col("sim").desc(), F.col("vec_id").asc()).limit(10)


def lsh_buckets_pandas(emb_pdf: pd.DataFrame) -> pd.Series:
    """NumPy twin of the Spark bucket computation (for tests)."""
    mat = np.stack(emb_pdf["embedding"].map(lambda v: np.asarray(v, dtype=np.float64)))
    H = _hyperplanes(mat.shape[1])
    bits = (mat @ H.T) > 0
    return pd.Series(
        (bits * (1 << np.arange(N_HYPERPLANES))).sum(axis=1).astype(np.int64),
        index=emb_pdf.index,
    )


# IVF with a PERSISTED index artifact — the production shape of the IVF
# entry above: "training" (the centroid aggregation) runs ONCE and lands
# on disk; the vector store is re-written PARTITIONED BY the assigned
# list (label), so a probe reads 2/N directories via Catalyst partition
# pruning instead of scanning the corpus. Query cost = tiny centroid read
# + partition-pruned scan of the probed lists — the same physical layout
# FAISS's IVF file or a Milvus segment gives you, expressed as parquet.
# Same oracle as ann_ivf_top10: the twin re-derives training + probe +
# scores from the raw table, so the persisted artifact is proven
# equivalent to recomputation.
def _ivf_index_dir_for(spark, sf_dir) -> str:
    import hashlib
    import os

    tag = hashlib.sha1(sf_dir.encode()).hexdigest()[:10]
    out = f"/tmp/ssr_ivf_idx_{tag}_v1"
    if not os.path.exists(os.path.join(out, "centroids", "_SUCCESS")):
        e = load(spark, sf_dir, "embeddings").withColumn(
            "emb", _as_double(F.col("embedding"))
        )
        pos = e.select("label", F.posexplode("emb").alias("pos", "v"))
        cent = (
            pos.groupBy("label", "pos")
            .agg(F.avg("v").alias("c"))
            .groupBy("label")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "c"))).alias("pc"))
            .select(
                "label", F.transform("pc", lambda s: s.getField("c")).alias("centroid")
            )
        )
        cent.coalesce(1).write.mode("overwrite").parquet(
            os.path.join(out, "centroids")
        )
        (
            e.select("vec_id", "label", "emb")
            .write.mode("overwrite")
            .partitionBy("label")
            .parquet(os.path.join(out, "vectors"))
        )
    return out


# ---------------------------------------------------------------------------
# Product quantization (PQ) — the classic memory-compressed ANN path
# (Jégou et al., "Product Quantization for Nearest Neighbor Search").
# The 64-dim vector splits into M=8 subspaces of 8 dims; each subspace gets
# a K=16-entry codebook, so a vector stores as 8 4-bit codes (~4 bytes vs
# 512 raw — 128× compression). Search is asymmetric distance computation
# (ADC): the query stays exact, each candidate's distance is the sum of
# query-to-assigned-centroid squared distances per subspace — one tiny
# (M × K) lookup table computed once per query, then a narrow scan over the
# codes column. At 100 TB that scan reads the ~4-byte code column instead
# of the 512-byte vector column, and the codebook (M·K·DSUB doubles) is a
# broadcast. Training here is a deterministic seeded partition (vec_id % K
# as the initial assignment) with ordered-fold means so the DuckDB twin
# reproduces the codebook BIT-EXACTLY — a production build would Lloyd-
# iterate from this same init (the iteration count is a quality knob, not
# a correctness one, and pytest asserts the recall this codebook achieves).
PQ_M, PQ_DSUB, PQ_K = 8, 8, 16


def _sq_dist(a, b, dim: int = PQ_DSUB):
    """Chained-sum squared distance over the 8-dim PQ subvectors — codegen
    arithmetic, same add order as the old fold (see _dot)."""
    terms = [
        (a.getItem(i) - b.getItem(i)) * (a.getItem(i) - b.getItem(i)) for i in range(dim)
    ]
    out = terms[0]
    for t in terms[1:]:
        out = out + t
    return out


_PQ_CTES = f"""
WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
           FROM embeddings),
sub AS (SELECT vec_id, CAST(t.m AS INT) AS m,
               emb[CAST(t.m AS INT)*{PQ_DSUB} + 1 : CAST(t.m AS INT)*{PQ_DSUB} + {PQ_DSUB}] AS sv
        FROM e, range({PQ_M}) t(m)),
dims AS (SELECT vec_id, m, vec_id % {PQ_K} AS j, CAST(p.i AS INT) AS i,
                sv[CAST(p.i AS INT) + 1] AS v
         FROM sub, range({PQ_DSUB}) p(i)),
cb AS (SELECT m, j, list(c ORDER BY i) AS cent FROM (
         SELECT m, j, i, list_sum(list(v ORDER BY vec_id)) / count(*) AS c
         FROM dims GROUP BY m, j, i) GROUP BY m, j),
dist AS (SELECT s.vec_id, s.m, c.j,
                list_sum(list_transform(list_zip(s.sv, c.cent),
                                        x -> (x[1]-x[2])*(x[1]-x[2]))) AS d2
         FROM sub s JOIN cb c USING (m)),
codes AS (SELECT vec_id, m, j FROM (
            SELECT vec_id, m, j,
                   row_number() OVER (PARTITION BY vec_id, m ORDER BY d2, j) AS rn
            FROM dist) WHERE rn = 1)
"""

_PQ_CODES_SQL = (
    _PQ_CTES
    + """
SELECT vec_id, list(j ORDER BY m) AS codes FROM codes GROUP BY vec_id
ORDER BY vec_id
"""
)

_PQ_ADC_SQL = (
    _PQ_CTES
    + f""",
qsub AS (SELECT m, sv AS qsv FROM sub WHERE vec_id = {QUERY_VEC_ID}),
ad AS (SELECT k.vec_id, list_sum(list(dm ORDER BY m)) AS adc FROM (
         SELECT codes.vec_id, codes.m,
                list_sum(list_transform(list_zip(q.qsv, c.cent),
                                        x -> (x[1]-x[2])*(x[1]-x[2]))) AS dm
         FROM codes JOIN cb c USING (m, j) JOIN qsub q USING (m)
         WHERE codes.vec_id <> {QUERY_VEC_ID}) k
       GROUP BY k.vec_id)
SELECT vec_id, round(adc, 5) AS adc FROM ad ORDER BY adc ASC, vec_id ASC LIMIT 10
"""
)


def _pq_codebook(spark, sf_dir) -> np.ndarray:
    """Train the PQ codebook distributedly, return it as a dense
    (M, K, DSUB) float64 array with absent (m, j) cells set to NaN.

    The training aggregation (seeded partition vec_id % K, ordered-fold
    mean matching the twin's list_sum(list(v ORDER BY vec_id))) is the
    same two-groupBy lineage as before; only the final (M·K)-row table —
    8 KB — is collected, which the ADC/encode path needed driver-side
    anyway to broadcast its lookup structure."""
    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", _as_double(F.col("embedding")).alias("emb")
    )
    sub = e.select(
        "vec_id",
        F.posexplode(
            F.array(*[F.slice("emb", m * PQ_DSUB + 1, PQ_DSUB) for m in range(PQ_M)])
        ).alias("m", "sv"),
    )
    dims = sub.select(
        "vec_id", "m", (F.col("vec_id") % PQ_K).alias("j"), F.posexplode("sv").alias("i", "v")
    )
    cb = (
        dims.groupBy("m", "j", "i")
        .agg(
            F.aggregate(
                F.array_sort(F.collect_list(F.struct("vec_id", "v"))),
                F.lit(0.0),
                lambda acc, s: acc + s.getField("v"),
            ).alias("s"),
            F.count("*").alias("n"),
        )
        .withColumn("c", F.col("s") / F.col("n"))
        .groupBy("m", "j")
        .agg(F.array_sort(F.collect_list(F.struct("i", "c"))).alias("ic"))
        .select("m", "j", F.transform("ic", lambda s: s.getField("c")).alias("cent"))
    )
    mat = np.full((PQ_M, PQ_K, PQ_DSUB), np.nan)
    for r in cb.collect():
        mat[int(r["m"]), int(r["j"])] = np.asarray(r["cent"], dtype=np.float64)
    return mat


def _sq_dist_np(sv: np.ndarray, cent: np.ndarray) -> np.ndarray:
    """Row-wise chained-sum squared distance over PQ_DSUB dims — the exact
    add order of the JVM _sq_dist expression (t0 + t1) + t2 ..., vectorized
    across rows."""
    d = (sv[:, 0] - cent[0]) * (sv[:, 0] - cent[0])
    for i in range(1, sv.shape[1]):
        d = d + (sv[:, i] - cent[i]) * (sv[:, i] - cent[i])
    return d


def _pq_encode_fn(cb: np.ndarray):
    """mapInArrow body: (vec_id, emb) → (vec_id, j0..j7) — nearest-centroid
    code per subspace against the closure-carried codebook (8 KB), ties to
    the smallest j (np.argmin keeps the first minimum — the same
    min(struct(d2, j)) tie-break the joined plan had). Encode is MAP-ONLY:
    the old plan shuffled an M×K-exploded distance table into a
    per-(vec, m) groupBy for the same per-row answer (guide §2.4/§4.2)."""

    def fn(batches):
        import pyarrow as pa

        for b in batches:
            if b.num_rows == 0:
                continue
            mat = _list_mat_d(b.column("emb"))
            subs = mat.reshape(-1, PQ_M, PQ_DSUB)
            n = subs.shape[0]
            codes = np.empty((n, PQ_M), dtype=np.int64)
            for m in range(PQ_M):
                d2 = np.empty((n, PQ_K))
                for j in range(PQ_K):
                    if np.isnan(cb[m, j, 0]):
                        d2[:, j] = np.inf  # absent centroid: never assignable
                    else:
                        d2[:, j] = _sq_dist_np(subs[:, m, :], cb[m, j])
                codes[:, m] = np.argmin(d2, axis=1)
            yield pa.record_batch(
                [b.column("vec_id")]
                + [pa.array(codes[:, m], pa.int64()) for m in range(PQ_M)],
                names=["vec_id"] + [f"j{m}" for m in range(PQ_M)],
            )

    return fn


def _list_mat_d(col) -> np.ndarray:
    """Arrow list<double> column → (n, EMB_DIM) float64 matrix."""
    if hasattr(col, "combine_chunks"):
        col = col.combine_chunks()
    off = col.offsets.to_numpy(zero_copy_only=False)
    flat = col.values.to_numpy(zero_copy_only=False)
    return flat[off[0]: off[-1]].reshape(-1, EMB_DIM)


def _pq_codes_df(spark, sf_dir):
    """(vec_id, j0..j7) — one Arrow pass with the collected codebook."""
    cb = _pq_codebook(spark, sf_dir)
    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", _as_double(F.col("embedding")).alias("emb")
    )
    return e.mapInArrow(
        _pq_encode_fn(cb),
        schema="vec_id long, " + ", ".join(f"j{m} long" for m in range(PQ_M)),
    )


@register("ann_pq_codes", _PQ_CODES_SQL)
def ann_pq_codes(spark, sf_dir):
    codes = _pq_codes_df(spark, sf_dir)
    return codes.select(
        "vec_id", F.array(*[F.col(f"j{m}") for m in range(PQ_M)]).alias("codes")
    ).orderBy("vec_id")


@register("ann_pq_adc_top10", _PQ_ADC_SQL)
def ann_pq_adc_top10(spark, sf_dir):
    # ADC fused into the encode pass: the (M × K) LUT of query-to-centroid
    # distances is computed ONCE driver-side (dm in the exact _sq_dist add
    # order), each row's adc accumulates lut[m, code_m] in ascending-m
    # order — bit-identical to the old array_sort(collect_list)+aggregate
    # fold, without the codebook join + per-vec groupBy shuffles. The one
    # remaining distributed step is TakeOrdered over (vec_id, adc) rows.
    cb = _pq_codebook(spark, sf_dir)
    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", _as_double(F.col("embedding")).alias("emb")
    )
    qrow = e.filter(F.col("vec_id") == QUERY_VEC_ID).select("emb").first()
    if qrow is None:  # no query vector: the old joined plan returned empty
        return spark.createDataFrame([], "vec_id long, adc double")
    qemb = np.asarray(qrow[0], dtype=np.float64)
    qsub = qemb.reshape(PQ_M, PQ_DSUB)
    lut = np.full((PQ_M, PQ_K), np.nan)
    for m in range(PQ_M):
        for j in range(PQ_K):
            if not np.isnan(cb[m, j, 0]):
                lut[m, j] = _sq_dist_np(qsub[m][None, :], cb[m, j])[0]
    encode = _pq_encode_fn(cb)

    def fn(batches):
        import pyarrow as pa

        for out in encode(batches):
            vid = out.column("vec_id").to_numpy(zero_copy_only=False)
            adc = np.zeros(vid.size)
            for m in range(PQ_M):
                adc = adc + lut[m, out.column(f"j{m}").to_numpy(zero_copy_only=False)]
            yield pa.record_batch(
                [out.column("vec_id"), pa.array(adc, pa.float64())],
                names=["vec_id", "adc"],
            )

    ad = e.mapInArrow(fn, schema="vec_id long, adc double").filter(
        F.col("vec_id") != QUERY_VEC_ID
    ).select("vec_id", F.round("adc", 5).alias("adc"))
    return ad.orderBy(F.col("adc").asc(), F.col("vec_id").asc()).limit(10)


def pq_adc_pandas(emb_pdf: pd.DataFrame, query_vec_id: int, k: int) -> list[int]:
    """NumPy reference for recall tests: top-k vec_ids by PQ-ADC distance
    with the same seeded-partition codebook."""
    ids = emb_pdf["vec_id"].to_numpy()
    mat = np.stack(emb_pdf["embedding"].map(lambda v: np.asarray(v, dtype=np.float64)))
    order = np.argsort(ids)
    ids, mat = ids[order], mat[order]
    subs = mat.reshape(len(ids), PQ_M, PQ_DSUB)
    cb = np.zeros((PQ_M, PQ_K, PQ_DSUB))
    for j in range(PQ_K):
        cb[:, j, :] = subs[ids % PQ_K == j].mean(axis=0)
    d2 = ((subs[:, :, None, :] - cb[None]) ** 2).sum(axis=3)  # (n, M, K)
    codes = d2.argmin(axis=2)
    q = subs[ids == query_vec_id][0]
    lut = ((q[:, None, :] - cb) ** 2).sum(axis=2)  # (M, K)
    adc = lut[np.arange(PQ_M)[None, :], codes].sum(axis=1)
    sel = np.lexsort((ids, adc))
    return [int(ids[i]) for i in sel if ids[i] != query_vec_id][:k]


@register("ann_ivf_persisted_top10", _IVF_SQL)
def ann_ivf_persisted_top10(spark, sf_dir):
    import os

    idx = _ivf_index_dir_for(spark, sf_dir)
    cent_pd = spark.read.parquet(os.path.join(idx, "centroids")).toPandas()
    vectors = spark.read.parquet(os.path.join(idx, "vectors"))
    qvec = np.array(
        vectors.filter(F.col("vec_id") == QUERY_VEC_ID).select("emb").first()[0],
        dtype=np.float64,
    )
    probe = probe_labels(cent_pd, qvec, n_probe=2)
    # label is a PARTITION column of the persisted store: this filter
    # prunes to the probed directories (no full-corpus scan)
    cand = vectors.filter(
        F.col("label").isin(probe) & (F.col("vec_id") != QUERY_VEC_ID)
    )
    q = vectors.filter(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("emb").alias("qemb")
    )
    joined = cand.crossJoin(F.broadcast(q))
    sim = _dot(F.col("emb"), F.col("qemb")) / (
        F.sqrt(_dot(F.col("emb"), F.col("emb")))
        * F.sqrt(_dot(F.col("qemb"), F.col("qemb")))
    )
    out = joined.select("vec_id", "label", F.round(sim, 5).alias("sim"))
    return out.orderBy(F.col("sim").desc(), F.col("vec_id").asc()).limit(10)


# --- hybrid lexical + vector retrieval with RRF fusion -------------------
# Elasticsearch 8 hybrid search: a BM25 leg and a kNN leg retrieved
# independently, fused by Reciprocal Rank Fusion (the ES `rrf` retriever):
# score(d) = Σ_legs 1/(RRF_K + rank_leg(d)). The synthetic corpus aligns
# vec_id 1:1 with doc_id, so the two legs share a doc universe. Rank
# exactness across engines: each leg ranks on its ROUNDED leg score
# (round-6 BM25 / round-5 cosine — the same rounding the standalone ft_*
# and ann_* twins already prove hash-equal) with id tiebreak, and the
# fused sum is two identically-computed doubles added in a fixed order —
# bit-reproducible without any float-ordering hazard. Scale shape: each
# leg is a top-N (the index path / IVF path at size); fusion joins two
# 50-row sets — negligible.
from search_replica_spark import B, K1  # noqa: E402  (BM25 constants)

HYBRID_TERMS = ("hash", "join")
RRF_K, LEG_N = 60, 50

_HYBRID_SQL = f"""
WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
stats AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM dl),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok
       WHERE term IN ('{HYBRID_TERMS[0]}', '{HYBRID_TERMS[1]}') GROUP BY doc_id, term),
df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok
       WHERE term IN ('{HYBRID_TERMS[0]}', '{HYBRID_TERMS[1]}') GROUP BY term),
contrib AS (SELECT tf.doc_id,
                   ln(1 + (stats.n - df.df + 0.5) / (df.df + 0.5)) * tf.tf
                   / (tf.tf + {K1} * (1 - {B} + {B} * dl.dl / stats.avgdl)) AS c
            FROM tf JOIN df USING (term) JOIN dl ON dl.doc_id = tf.doc_id
            CROSS JOIN stats),
lex AS (SELECT doc_id, round(sum(c), 6) AS s FROM contrib GROUP BY doc_id),
lexr AS (SELECT doc_id, CAST(row_number() OVER (ORDER BY s DESC, doc_id) AS BIGINT) AS r
         FROM lex ORDER BY r LIMIT {LEG_N}),
q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = {QUERY_VEC_ID}),
sim AS (SELECT e.vec_id,
               round(
                 list_sum(list_transform(list_zip(e.embedding, q.qe),
                                         x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
                 / ( sqrt(list_sum(list_transform(e.embedding,
                                                  x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                   * sqrt(list_sum(list_transform(q.qe,
                                                  x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) ),
                 5) AS sim
        FROM embeddings e, q WHERE e.vec_id <> {QUERY_VEC_ID}),
vecr AS (SELECT vec_id, CAST(row_number() OVER (ORDER BY sim DESC, vec_id) AS BIGINT) AS r
         FROM sim ORDER BY r LIMIT {LEG_N}),
f AS (SELECT COALESCE(l.doc_id, v.vec_id) AS doc_id,
             COALESCE(1.0 / ({RRF_K} + l.r), 0.0)
               + COALESCE(1.0 / ({RRF_K} + v.r), 0.0) AS rrf,
             l.r AS lex_rank, v.r AS vec_rank
      FROM lexr l FULL OUTER JOIN vecr v ON v.vec_id = l.doc_id)
SELECT doc_id, round(rrf, 9) AS rrf_score, lex_rank, vec_rank
FROM f ORDER BY rrf DESC, doc_id LIMIT 10
"""


@register("hybrid_rrf_top10", _HYBRID_SQL)
def hybrid_rrf_top10(spark, sf_dir):
    from pyspark.sql import Window

    t0, t1 = HYBRID_TERMS
    d = load(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    dl = tok.groupBy("doc_id").agg(F.count("*").alias("dl"))
    stats = dl.agg(
        F.count("*").alias("n"), F.avg("dl").alias("avgdl")
    ).collect()[0]
    n, avgdl = stats["n"], stats["avgdl"]
    qt = tok.where(F.col("term").isin(t0, t1))
    tf = qt.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df = qt.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    contrib = (
        tf.join(F.broadcast(df), "term")
        .join(dl, "doc_id")
        .select(
            "doc_id",
            (
                F.log(F.lit(1.0) + (F.lit(n) - F.col("df") + 0.5) / (F.col("df") + 0.5))
                * F.col("tf")
                / (F.col("tf") + K1 * (1 - B + B * F.col("dl") / F.lit(avgdl)))
            ).alias("c"),
        )
    )
    lex = contrib.groupBy("doc_id").agg(F.round(F.sum("c"), 6).alias("s"))
    # rank inside the already-cut top-N so the global window only ever sees
    # LEG_N rows (at scale the leg itself comes from the index / IVF path)
    lex_top = lex.orderBy(F.col("s").desc(), F.col("doc_id")).limit(LEG_N)
    wl = Window.orderBy(F.col("s").desc(), F.col("doc_id"))
    lexr = lex_top.select(
        "doc_id", F.row_number().over(wl).cast("long").alias("lex_rank")
    )

    e = load(spark, sf_dir, "embeddings").withColumn("emb", _as_double(F.col("embedding")))
    q = e.filter(F.col("vec_id") == QUERY_VEC_ID).select(F.col("emb").alias("qemb"))
    sim = (
        e.filter(F.col("vec_id") != QUERY_VEC_ID)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            F.round(
                _dot(F.col("emb"), F.col("qemb"))
                / (
                    F.sqrt(_dot(F.col("emb"), F.col("emb")))
                    * F.sqrt(_dot(F.col("qemb"), F.col("qemb")))
                ),
                5,
            ).alias("sim"),
        )
    )
    vec_top = sim.orderBy(F.col("sim").desc(), F.col("vec_id")).limit(LEG_N)
    wv = Window.orderBy(F.col("sim").desc(), F.col("vec_id"))
    vecr = vec_top.select(
        F.col("vec_id"), F.row_number().over(wv).cast("long").alias("vec_rank")
    )

    f = lexr.join(vecr, lexr["doc_id"] == vecr["vec_id"], "full_outer").select(
        F.coalesce(lexr["doc_id"], vecr["vec_id"]).alias("doc_id"),
        (
            F.coalesce(F.lit(1.0) / (F.lit(RRF_K) + F.col("lex_rank")), F.lit(0.0))
            + F.coalesce(F.lit(1.0) / (F.lit(RRF_K) + F.col("vec_rank")), F.lit(0.0))
        ).alias("rrf"),
        "lex_rank",
        "vec_rank",
    )
    return (
        f.orderBy(F.col("rrf").desc(), F.col("doc_id"))
        .limit(10)
        .select(
            "doc_id", F.round("rrf", 9).alias("rrf_score"), "lex_rank", "vec_rank"
        )
    )


# ES 8 filtered kNN: {"knn": {..., "filter": {"terms": {"label": [...]}}}}
# — the metadata predicate applies BEFORE the similarity ranking
# (pre-filter semantics, like ES/FAISS-with-IDSelector), so top-k is
# exact over the allowed subset. On the IVF-partitioned store this
# predicate is also the partition key, so the scan prunes to the allowed
# label directories — filter + probe pruning compose.
KNN_FILTER_LABELS = (1, 3)


@register(
    "ann_filtered_top10",
    _cosine_topk_sql(
        select_extra=" e.label,",
        where_extra=f" AND e.label IN {KNN_FILTER_LABELS}",
    ),
)
def ann_filtered_top10(spark, sf_dir):
    return _cosine_topk_spark(
        spark,
        sf_dir,
        extra_cols=("label",),
        flt=F.col("label").isin(*KNN_FILTER_LABELS),
    )


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
