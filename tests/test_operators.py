"""Fast operator sanity at sf0.001 — full oracle equivalence runs in
scripts/check_harness.py at sf0.01; this keeps `pytest` self-contained."""

import pytest

from search_replica_spark.operators import all_registered

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def registry():
    return all_registered()


def test_registry_complete(registry):
    assert len(registry) >= 30
    # every SQL oracle references only pre-registered views
    for name, (_fn, sql) in registry.items():
        if sql:
            assert "documents" in sql or "embeddings" in sql or any(
                t in sql for t in ("lineitem", "orders", "customer", "nation", "events")
            ), name


@pytest.mark.parametrize(
    "name,min_rows",
    [
        ("p2_projection_pruning", 1),
        ("p16_lastwins_dedup", 1),
        ("b6_has_child_semijoin", 1),
        ("ft_df_stats", 1),
        ("dedup_exact", 1),
        ("dedup_simhash", 1),
        ("text_quality_scores", 1),
        ("text_bpe_token_count", 1),
        ("doc_winnow_fingerprint", 1),
        ("ann_cosine_top10", 1),
        ("mm_image_meta", 1),
        ("agg_pipeline_day", 1),
        ("agg_max_bucket_day", 1),
        ("pii_redact_customers", 1),
    ],
)
def test_operator_runs(spark, registry, name, min_rows):
    fn, _ = registry[name]
    df = fn(spark, SF_DIR)
    assert df.count() >= min_rows


def test_winnow_fingerprint_shape(spark, registry):
    fn, _ = registry["doc_winnow_fingerprint"]
    pdf = fn(spark, SF_DIR).toPandas()
    assert pdf["winnow_fp"].str.len().eq(32).all()
    assert pdf["doc_id"].is_unique


def test_simhash_range(spark, registry):
    fn, _ = registry["dedup_simhash"]
    pdf = fn(spark, SF_DIR).toPandas()
    assert pdf["simhash"].between(0, 65535).all()


def test_ivf_exact_within_probed_clusters(spark, registry):
    """IVF's correctness property: results are EXACTLY the brute-force top-k
    restricted to the probed clusters (overall recall depends on how
    geometric the clustering is — these labels are weak clusters)."""
    import numpy as np
    import pandas as pd

    from search_replica_spark.operators.similarity import (
        ann_brute_force_pandas,
        centroids_pandas,
        probe_labels,
    )

    fn, _ = registry["ann_ivf_top10"]
    got = [r["vec_id"] for r in fn(spark, SF_DIR).collect()]

    emb = pd.read_parquet(f"{SF_DIR}/embeddings.parquet")
    qvec = np.asarray(emb.loc[emb.vec_id == 0, "embedding"].iloc[0], dtype=np.float64)
    probes = probe_labels(centroids_pandas(emb), qvec, n_probe=2)
    sub = emb[emb.label.isin(probes) | (emb.vec_id == 0)].reset_index(drop=True)
    want = ann_brute_force_pandas(sub, 0, 10)
    assert got == want, f"IVF within-probe results differ: {got} vs {want}"


def test_p15_topo_order():
    """P15 parent-first snapshot ordering (reference: postgres/config.go:56-87)."""
    import pytest as _pytest

    from search_replica_spark.plans.topo import CycleError, topo_order

    # child_doc and inline_doc depend on main_doc (reference demo schema)
    order = topo_order({"inline_doc": {"main_doc"}, "child_doc": {"main_doc"}})
    assert order.index("main_doc") < order.index("inline_doc")
    assert order.index("main_doc") < order.index("child_doc")
    assert order == ["main_doc", "child_doc", "inline_doc"]  # deterministic

    assert topo_order({}) == []
    assert topo_order({"a": set()}) == ["a"]
    chain = topo_order({"c": {"b"}, "b": {"a"}})
    assert chain == ["a", "b", "c"]
    with _pytest.raises(CycleError):
        topo_order({"a": {"b"}, "b": {"a"}})


def test_lsh_exact_within_probed_buckets(spark, registry):
    """LSH correctness: results == brute force restricted to the candidate
    buckets (query bucket + hamming-1 neighbors), and the Spark bucket
    computation matches the NumPy twin."""
    import numpy as np
    import pandas as pd

    from search_replica_spark.operators.similarity import (
        N_HYPERPLANES,
        ann_brute_force_pandas,
        lsh_buckets_pandas,
    )

    fn, _ = registry["ann_lsh_top10"]
    rows = fn(spark, SF_DIR).collect()
    got = [r["vec_id"] for r in rows]

    emb = pd.read_parquet(f"{SF_DIR}/embeddings.parquet")
    buckets = lsh_buckets_pandas(emb)
    qb = int(buckets[emb.vec_id == 0].iloc[0])
    probes = {qb} | {qb ^ (1 << i) for i in range(N_HYPERPLANES)}
    # spark-side buckets must match the NumPy twin
    for r in rows:
        assert int(r["bucket"]) in probes
    sub = emb[buckets.isin(probes) | (emb.vec_id == 0)].reset_index(drop=True)
    want = ann_brute_force_pandas(sub, 0, 10)
    assert got == want


def test_ivf_partition_pruned_scan(spark, tmp_path):
    """The IVF scale story made concrete: embeddings stored PARTITIONED BY
    cluster label; a 2-probe query's scan must show partition pruning
    (PartitionFilters on label), i.e. the probe reads ~n_probe/n_labels of
    the data instead of a full scan."""
    from pyspark.sql import functions as F

    src = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    part_dir = str(tmp_path / "emb_by_label")
    src.write.partitionBy("label").parquet(part_dir)

    probed = spark.read.parquet(part_dir).filter(F.col("label").isin([1, 2]))
    plan = probed._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "label" in plan.split("PartitionFilters")[1][:80]
    # pruning is real: rows read equal the two clusters' rows exactly
    want = src.filter(F.col("label").isin([1, 2])).count()
    assert probed.count() == want > 0


def test_ppjoin_prefix_filter_lossless_property():
    """The PPJoin lemma our dedup_ngram_jaccard plan relies on, checked by
    brute force on random universes: any pair with Jaccard >= t shares at
    least one token within both prefixes of length |x| - ceil(t|x|) + 1
    under the global (df asc, token asc) order."""
    import math
    import random

    t = 0.5
    rng = random.Random(11)
    for trial in range(200):
        uni = list(range(rng.randint(4, 30)))
        docs = [
            set(rng.sample(uni, rng.randint(1, len(uni))))
            for _ in range(rng.randint(2, 12))
        ]
        df = {u: sum(u in d for d in docs) for u in uni}
        order = {u: (df[u], u) for u in uni}
        prefixes = []
        for d in docs:
            toks = sorted(d, key=lambda u: order[u])
            plen = len(d) - math.ceil(t * len(d)) + 1
            prefixes.append(set(toks[:plen]))
        for i in range(len(docs)):
            for j in range(i + 1, len(docs)):
                inter = len(docs[i] & docs[j])
                union = len(docs[i] | docs[j])
                if union and inter / union >= t:
                    assert prefixes[i] & prefixes[j], (docs[i], docs[j])


def test_lsh_bucket_cap_drops_degenerate_buckets(spark):
    """_bucket_pairs(max_bucket=N): buckets beyond the cap contribute no
    pairs (the s² guard for degenerate near-identical clusters)."""
    from pyspark.sql import functions as F

    from search_replica_spark.operators.dedup import _bucket_pairs

    rows = [("big", i) for i in range(5)] + [("ok", 100), ("ok", 101)]
    df = spark.createDataFrame(rows, "bh string, doc_id long").withColumn(
        "band", F.lit(0)
    )
    uncapped = _bucket_pairs(df, ["band", "bh"], "doc_id", max_bucket=None).count()
    capped = _bucket_pairs(df, ["band", "bh"], "doc_id", max_bucket=3)
    got = {(r["_a"], r["_b"]) for r in capped.collect()}
    assert uncapped == 10 + 1
    assert got == {(100, 101)}  # the 5-member bucket is skipped entirely


def test_pq_codes_and_adc_match_numpy_twin(spark, registry):
    """PQ correctness: the Spark code assignments and ADC top-k equal the
    NumPy reference bit-for-bit (same seeded-partition codebook, same
    ordered-fold means), codes stay in [0, K), and recall@10-in-50 vs exact
    L2 meets the measured floor for this codebook (5/10 at sf0.001)."""
    import numpy as np
    import pandas as pd

    from search_replica_spark.operators.similarity import (
        PQ_K,
        PQ_M,
        pq_adc_pandas,
    )

    emb = pd.read_parquet(f"{SF_DIR}/embeddings.parquet")

    codes_fn, _ = registry["ann_pq_codes"]
    code_rows = codes_fn(spark, SF_DIR).collect()
    assert len(code_rows) == len(emb)
    for r in code_rows:
        assert len(r["codes"]) == PQ_M
        assert all(0 <= j < PQ_K for j in r["codes"])

    adc_fn, _ = registry["ann_pq_adc_top10"]
    got = [r["vec_id"] for r in adc_fn(spark, SF_DIR).collect()]
    assert got == pq_adc_pandas(emb, 0, 10)

    # recall floor vs exact L2 (PQ is approximate; the floor is measured)
    ids = emb["vec_id"].to_numpy()
    mat = np.stack(emb["embedding"].map(lambda v: np.asarray(v, np.float64)))
    q = mat[ids == 0][0]
    d = ((mat - q) ** 2).sum(axis=1)
    order = np.lexsort((ids, d))
    l2_top10 = [int(ids[i]) for i in order if ids[i] != 0][:10]
    pq50 = pq_adc_pandas(emb, 0, 50)
    assert len(set(pq50) & set(l2_top10)) >= 3


def test_dis_max_boosting_msearch_semantics(spark):
    """ES-semantics invariants on the new query surfaces: dis_max with
    tie_breaker=0 is the per-doc best clause score; boosting with
    negative_boost=1.0 degenerates to the positive query; msearch equals
    the per-query searches; constant_score hits are doc_id-ascending with
    the constant score. The compound kinds run as DSL bodies through
    ``execute_dsl``, as their harness entries do."""
    from search_replica_spark.operators.fulltext import _index_dir_for, _OrigIdReader
    from search_replica_spark.query.bm25 import TermAtATimeScorer, msearch
    from search_replica_spark.query.dsl import execute_dsl

    idx = _index_dir_for(spark, SF_DIR)
    rd = _OrigIdReader(spark, idx)
    q1, q2 = "spark join", "window hash"

    def match(text):
        return {"match": {"content": text}}

    def dis_max_topk(rd, queries, k, tie_breaker):
        return execute_dsl(rd, {"dis_max": {
            "queries": [match(q) for q in queries], "tie_breaker": tie_breaker}}, k)

    def boosting_topk(rd, positive, negative, negative_boost, k):
        return execute_dsl(rd, {"boosting": {
            "positive": match(positive), "negative": match(negative),
            "negative_boost": negative_boost}}, k)

    def constant_score_match(rd, query, boost, k):
        return execute_dsl(rd, {"constant_score": {"filter": match(query), "boost": boost}}, k)

    s1 = dict(TermAtATimeScorer(rd).score(q1, int(rd.n_docs)))
    s2 = dict(TermAtATimeScorer(rd).score(q2, int(rd.n_docs)))
    got = dis_max_topk(rd, [q1, q2], 10, tie_breaker=0.0)
    for d, s in got:
        assert s == pytest.approx(max(s1.get(d, 0.0), s2.get(d, 0.0)))

    assert boosting_topk(rd, q1, "hash", negative_boost=1.0, k=10) == (
        TermAtATimeScorer(rd).score(q1, 10)
    )
    # a demoted doc never outranks its undemoted self
    demoted = dict(boosting_topk(rd, q1, "hash", negative_boost=0.25, k=int(rd.n_docs)))
    for d, s in demoted.items():
        assert s <= s1[d] + 1e-12

    ms = msearch(rd, [q1, q2], 5)
    assert ms[0] == TermAtATimeScorer(rd).score(q1, 5)
    assert ms[1] == TermAtATimeScorer(rd).score(q2, 5)

    cs = constant_score_match(rd, "spark window", boost=1.5, k=25)
    ids = [d for d, _ in cs]
    assert ids == sorted(ids) and all(s == 1.5 for _, s in cs)


def test_terms_set_min_match_bounds(spark):
    """terms_set degenerates to the bool/should OR query at min_match=1 and
    to operator:and at min_match=len(terms); intermediate thresholds are a
    subset of the OR match set with unchanged per-doc scores."""
    from search_replica_spark.operators.fulltext import _index_dir_for, _OrigIdReader
    from search_replica_spark.query.bm25 import TermAtATimeScorer, terms_set_topk

    idx = _index_dir_for(spark, SF_DIR)
    rd = _OrigIdReader(spark, idx)
    terms = ["hash", "spark", "window"]
    n = int(rd.n_docs)

    tata = TermAtATimeScorer(rd)
    assert terms_set_topk(rd, terms, min_match=1, k=n) == tata.score(
        " ".join(terms), n, mode="or"
    )
    assert terms_set_topk(rd, terms, min_match=len(terms), k=n) == tata.score(
        " ".join(terms), n, mode="and"
    )
    or_scores = dict(tata.score(" ".join(terms), n, mode="or"))
    mid = terms_set_topk(rd, terms, min_match=2, k=n)
    assert 0 < len(mid) < len(or_scores)
    for d, s in mid:
        assert s == pytest.approx(or_scores[d])


def test_dup_chunk_fraction_semantics(spark, tmp_path, registry):
    """Hand-built corpus: a chunk shared verbatim by two docs is flagged in
    BOTH; a doc of unique tokens reports zero; short docs emit no row."""
    import os

    rows = [
        (1, "a b c d x1 y1 z1 w1", "en", "s", 0),   # chunk1 'a b c d' shared
        (2, "a b c d p1 q1 r1 s1", "en", "s", 0),   # with doc 1
        (3, "u1 u2 u3 u4 u5 u6 u7 u8", "en", "s", 0),  # all unique
        (4, "t1 t2", "en", "s", 0),                  # < 4 tokens: no chunks
    ]
    sf = str(tmp_path / "sf")
    os.makedirs(sf)
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.parquet(f"{sf}/documents.parquet")
    fn, _ = registry["text_dup_chunk_fraction"]
    out = {r["doc_id"]: r.asDict() for r in fn(spark, sf).collect()}
    assert out[1]["n_chunks"] == 2 and out[1]["n_dup_chunks"] == 1
    assert out[1]["dup_frac_micro"] == 500000
    assert out[2]["n_dup_chunks"] == 1
    assert out[3]["n_dup_chunks"] == 0 and out[3]["dup_frac_micro"] == 0
    assert 4 not in out


def test_bigram_lm_nll_semantics(spark, tmp_path, registry):
    """Hand-built corpus vs a direct python add-one bigram LM: exact
    micro-nat agreement, and a doc made of corpus-frequent bigrams scores a
    LOWER avg NLL than one of rare transitions."""
    import math
    import os

    texts = {
        1: "the cat sat on the mat",
        2: "the cat sat on the rug",
        3: "the cat sat on the mat",
        4: "zebra quark vortex nebula",   # rare transitions
    }
    rows = [(d, t, "en", "s", 0) for d, t in texts.items()]
    sf = str(tmp_path / "sf")
    os.makedirs(sf)
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.parquet(f"{sf}/documents.parquet")

    toks = {d: t.split(" ") for d, t in texts.items()}
    bigr = [(a, b) for tk in toks.values() for a, b in zip(tk, tk[1:])]
    from collections import Counter
    c12 = Counter(bigr)
    c1 = Counter(a for a, _ in bigr)
    V = len({w for tk in toks.values() for w in tk})

    def py_doc(d):
        nlls = [
            math.floor(-math.log((c12[(a, b)] + 1.0) / (c1[a] + V)) * 1e6)
            for a, b in zip(toks[d], toks[d][1:])
        ]
        return sum(nlls), sum(nlls) // len(nlls)

    fn, _ = registry["text_bigram_lm_nll"]
    out = {r["doc_id"]: r.asDict() for r in fn(spark, sf).collect()}
    for d in texts:
        s, avg = py_doc(d)
        assert out[d]["sum_nll_micro"] == s, d
        assert out[d]["avg_nll_micro"] == avg, d
    assert out[1]["avg_nll_micro"] < out[4]["avg_nll_micro"]


def test_hybrid_rrf_fuses_both_legs(spark, registry):
    """RRF output: ranks are 1-based within each leg, the fused score is
    exactly 1/(K+lex)+1/(K+vec) for dual-leg docs, and at least one doc in
    the top-10 carries both ranks (the fusion actually fuses)."""
    from search_replica_spark.operators.similarity import RRF_K

    fn, _ = registry["hybrid_rrf_top10"]
    rows = fn(spark, SF_DIR).collect()
    assert len(rows) == 10
    both = [r for r in rows if r["lex_rank"] is not None and r["vec_rank"] is not None]
    assert both  # fusion found overlap between the legs
    for r in rows:
        want = (1.0 / (RRF_K + r["lex_rank"]) if r["lex_rank"] else 0.0) + (
            1.0 / (RRF_K + r["vec_rank"]) if r["vec_rank"] else 0.0
        )
        assert abs(r["rrf_score"] - want) < 1e-9
    # fused ordering is descending
    scores = [r["rrf_score"] for r in rows]
    assert scores == sorted(scores, reverse=True)


def test_percolate_conjunctive_semantics(spark, registry):
    """Every emitted (query, doc) pair really contains ALL the query's
    terms; the impossible query never fires; single-term queries match
    exactly the docs containing the term."""
    from pyspark.sql import functions as F

    from search_replica_spark.operators import load
    from search_replica_spark.operators.fulltext import PERCOLATE_QUERIES

    fn, _ = registry["percolate_matches"]
    out = fn(spark, SF_DIR).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], set()).add(r["doc_id"])
    assert 5 not in by_q  # 'zzz' matches nothing
    docs = {
        r["doc_id"]: set(r["text"].split(" "))
        for r in load(spark, SF_DIR, "documents").select("doc_id", "text").collect()
    }
    qmap = dict(PERCOLATE_QUERIES)
    for qid, matched in by_q.items():
        for d in matched:
            assert set(qmap[qid]) <= docs[d], (qid, d)
    # completeness for the single-term query
    spark_docs = {d for d, tk in docs.items() if "spark" in tk}
    assert by_q[3] == spark_docs
