"""ES 8 kNN search (`"knn": {...}` in the /_search body) over a vector
store co-located with the text index.

The reference's ES 8 target serves dense_vector fields with
approximate kNN; the engine's analogue is an IVF store written next to
the index (``<index_dir>/knn/``) by a Spark job (``build_knn_store``):
``centroids`` (label → mean vector + cluster size, O(n_clusters) rows)
and ``vectors`` PARTITIONED BY cluster label. A query (``knn_query``)
reads them in the driver with no Spark job, and only the probed label
directories of ``vectors`` — partition pruning IS the "approximate"
part, exactly the inverted-file trade (Jégou et al.), and the same
layout ``ann_ivf_persisted_top10`` verifies against its DuckDB twin.

``num_candidates`` maps to probes the way ES's candidate pool does:
clusters are taken in query-cosine order until the candidate count
reaches ``num_candidates``; inside the probed set scoring is EXACT
cosine, so recall failures can only come from probing, never scoring.
"""

from __future__ import annotations

import math
import os
from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pyarrow.compute as pc
from pyspark.sql import functions as F

from search_replica_spark.query.store import read_table


def knn_store_dir(index_dir: str) -> str:
    return os.path.join(index_dir, "knn")


def build_knn_store(spark, emb_df, index_dir: str) -> dict:
    """Write the co-located IVF store from (vec_id, label, embedding):
    per-label mean centroid + cluster size (posexplode + groupBy — never
    collects raw vectors), vectors partitioned by label."""
    dest = knn_store_dir(index_dir)
    e = emb_df.withColumn(
        "emb", F.transform(F.col("embedding"), lambda x: x.cast("double"))
    )
    pos = e.select("label", F.posexplode("emb").alias("pos", "v"))
    cent = (
        pos.groupBy("label", "pos")
        .agg(F.avg("v").alias("c"))
        .groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "c"))).alias("pc"))
        .select("label", F.transform("pc", lambda s: s.getField("c")).alias("centroid"))
        .join(e.groupBy("label").agg(F.count("*").alias("n")), "label")
    )
    cent.coalesce(1).write.mode("overwrite").parquet(os.path.join(dest, "centroids"))
    (
        e.select("vec_id", "label", "emb")
        .write.mode("overwrite")
        .partitionBy("label")
        .parquet(os.path.join(dest, "vectors"))
    )
    n_vec = e.count()
    return {"n_vectors": int(n_vec), "dir": dest}


def probe_for_candidates(cent_pdf, qvec: np.ndarray, num_candidates: int) -> list[int]:
    """Clusters in query-cosine order (tie: label asc) until the summed
    cluster sizes reach ``num_candidates`` — ES's candidate-pool knob in
    IVF terms. Always probes at least one cluster."""
    qn = float(np.linalg.norm(qvec))
    scored = []
    for r in cent_pdf.itertuples():
        c = np.asarray(r.centroid, dtype=np.float64)
        denom = float(np.linalg.norm(c)) * qn
        scored.append((-(float(c @ qvec) / denom) if denom else 0.0, int(r.label), int(r.n)))
    scored.sort()
    out, cum = [], 0
    for _negsim, label, n in scored:
        if cum >= num_candidates and out:
            break
        out.append(label)
        cum += n
    return out


def knn_query(
    index_dir: str,
    query_vector,
    k: int = 10,
    num_candidates: int = 100,
) -> list[tuple[int, float]]:
    """Top-k (vec_id, cosine) from the co-located store, read in the
    driver with no Spark job (``read_table``): the centroid probe over
    ``centroids`` (O(n_clusters) rows), then only the probed
    ``vectors/label=<n>`` directories (the IVF partition pruning), scored
    as exact cosine in NumPy. Ties break (score desc, vec_id asc)."""
    dest = knn_store_dir(index_dir)
    cent = read_table(os.path.join(dest, "centroids"), ["label", "centroid", "n"])
    qvec = np.asarray(query_vector, dtype=np.float64)
    probe = probe_for_candidates(cent.to_pandas(), qvec, int(num_candidates))
    ids, sims = [np.empty(0, np.int64)], [np.empty(0, np.float64)]
    for label in probe:
        t = read_table(os.path.join(dest, "vectors", f"label={label}"), ["vec_id", "emb"])
        if pc.any(pc.not_equal(pc.list_value_length(t["emb"]), qvec.size)).as_py():
            raise ValueError(f"knn: stored vectors of label {label} are not of "
                             f"the query vector's dimension {qvec.size}")
        emb = pc.list_flatten(t["emb"]).to_numpy().reshape(t.num_rows, qvec.size)
        norms = np.sqrt(_fold(emb, emb)) * np.sqrt(_fold(qvec, qvec))
        if not norms.all():  # cosine is undefined for a zero vector
            raise ValueError("knn: the query vector or a probed vector is all zeros")
        ids.append(t["vec_id"].to_numpy())
        sims.append(_fold(emb, qvec) / norms)
    ids, sims = np.concatenate(ids), np.concatenate(sims)
    if 0 < int(k) < sims.size:
        # rounding moves a value by under 1e-5, so one more than 1e-5
        # below the k-th largest cannot reach the rounded top k
        keep = sims >= np.partition(sims, -int(k))[-int(k)] - 2e-5
        ids, sims = ids[keep], sims[keep]
    sims = np.array([_round5(x) for x in sims.tolist()], np.float64)
    top = np.lexsort((ids, -sims))[: int(k)]
    return [(int(ids[i]), float(sims[i])) for i in top]


def _fold(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """The dot product of ``a``'s rows (or vector) with ``b`` as a
    sequential left fold from 0.0, the evaluation order of Spark's
    ``aggregate`` and DuckDB's ``list_sum`` (not a BLAS dot, which sums in
    blocks), so a cosine is bit-identical to the store's twins. ``+ 0.0``
    turns an all-``-0.0`` sum into the fold's ``0.0``."""
    return np.cumsum(a * b, axis=-1)[..., -1] + 0.0


_STEP = Decimal("1e-5")


def _round5(x: float) -> float:
    """``round(x, 5)`` as Spark rounds a double: HALF_UP on the double's
    decimal string (``BigDecimal.valueOf``), not on its binary value as
    ``np.round`` does; NaN and infinities are kept."""
    if not math.isfinite(x):
        return x
    return float(Decimal(repr(x)).quantize(_STEP, rounding=ROUND_HALF_UP)) + 0.0
