"""Fast operator sanity at sf0.001 — full oracle equivalence runs in
scripts/check_harness.py at sf0.01; this keeps `pytest` self-contained."""

import pytest

import __spark_entry__
from search_replica_spark.operators import all_registered

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def registry():
    return all_registered()


def test_registry_complete(registry):
    # the spark-graft harness samples 50 entries from queries()
    assert len(registry) >= 50
    assert set(__spark_entry__.oracle_sql()) <= set(__spark_entry__.queries())
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
    ],
)
def test_operator_runs(spark, registry, name, min_rows):
    fn, _ = registry[name]
    df = fn(spark, SF_DIR)
    assert df.count() >= min_rows


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
