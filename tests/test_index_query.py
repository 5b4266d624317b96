"""End-to-end rank-identity: Spark engine vs pure-Python oracle.

Mirrors the reference's consistency test (demo/consistency_test.go:29-82):
it loads the input, runs the engine, then compares every result against the
independent reference implementation.
"""

import json
import os
import subprocess
import sys

import numpy as np
import pytest

from search_replica_spark.corpus import reference_queries
from search_replica_spark.query.bm25 import (
    IndexReader,
    TermAtATimeScorer,
    _global_dfs,
    bm25_topk_spark,
)

TOL = 1e-9


def canon(results):
    """Canonicalize [(doc_id, score)] for comparison: quantize then order."""
    return [(d, round(s, 9)) for d, s in results]


def assert_rank_identical(got, want):
    assert len(got) == len(want), f"length {len(got)} != {len(want)}"
    for i, ((gd, gs), (wd, ws)) in enumerate(zip(got, want)):
        assert abs(gs - ws) <= TOL * max(1.0, abs(ws)), f"rank {i}: score {gs} != {ws}"
    # doc order must match after quantizing away float-sum noise
    assert [d for d, _ in canon(got)] == [d for d, _ in canon(want)]


@pytest.fixture(scope="module")
def queries():
    return reference_queries()


def test_build_stats(small_index, small_oracle):
    _, stats = small_index
    assert stats["n_docs"] == small_oracle.n_docs == 600
    assert abs(stats["avg_dl"] - small_oracle.avg_dl) < 1e-9
    assert stats["n_terms"] == len(small_oracle.postings)
    assert stats["postings_emitted"] == sum(len(p) for p in small_oracle.postings.values())
    assert stats["bytes_compressed"] > 0


def test_doc_store_invariants(spark, small_index, small_corpus):
    """content_sha256 per-row invariant vs source (BASELINE.json#input_hint)."""
    import hashlib

    idx_dir, _ = small_index
    docs = spark.read.parquet(f"{idx_dir}/docs").toPandas()
    assert docs["doc_idx"].sort_values().tolist() == list(range(len(small_corpus)))
    src = small_corpus.set_index(["repo", "path"])["content"]
    merged = docs.set_index(["repo", "path"]).join(src.to_frame())
    expect = merged["content"].map(lambda c: hashlib.sha256(c.encode()).hexdigest())
    assert (merged["content_sha256"] == expect).all()
    # doc_idx is dense rank of doc_id
    by_idx = docs.sort_values("doc_idx")
    assert by_idx["doc_id"].is_monotonic_increasing


def test_rank_identity_tata(spark, small_index, small_oracle, queries):
    """NumPy term-at-a-time scorer == oracle on all 50 reference queries."""
    idx_dir, _ = small_index
    reader = IndexReader(spark, idx_dir)
    scorer = TermAtATimeScorer(reader)
    for qid, qtext, k in zip(queries["query_id"], queries["query_text"], queries["k"]):
        got = scorer.score(qtext, int(k))
        want = small_oracle.score(qtext, int(k))
        assert_rank_identical(got, want)


def test_rank_identity_spark_distributed(spark, small_index, small_oracle, queries):
    """Distributed DataFrame scorer == oracle on a subset (slower per query)."""
    idx_dir, _ = small_index
    sub = queries.iloc[[0, 5, 16, 27, 30, 42, 45, 48, 49]]
    for qid, qtext, k in zip(sub["query_id"], sub["query_text"], sub["k"]):
        got = [(r["doc_id"], r["score"]) for r in bm25_topk_spark(spark, idx_dir, qtext, int(k)).collect()]
        want = small_oracle.score(qtext, int(k))
        assert_rank_identical(got, want)


ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _no_jvm_env(tmp_path) -> dict:
    """The environment of a fresh interpreter in which Java is unusable
    (JAVA_HOME names a missing directory)."""
    return {**os.environ, "JAVA_HOME": str(tmp_path / "no-java")}


def _cli(tmp_path, *args) -> str:
    """The stdout of ``python -m search_replica_spark ARGS`` in a fresh
    interpreter with Java unusable."""
    out = subprocess.run(
        [sys.executable, "-m", "search_replica_spark", *args], cwd=ROOT,
        env=_no_jvm_env(tmp_path), capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    return out.stdout


def _read_side_index(spark, corpus, dest) -> list[int]:
    """Write a store_source index for the CLI's read commands into
    ``dest``: a nested stored column (``inlined``, an array of structs),
    two generations of which the second upserts doc 4 and tombstones doc
    11, a knn store keyed by doc_id and three percolator queries. Returns
    the doc_ids of the corpus rows it indexed."""
    from pyspark.sql import functions as F

    from search_replica_spark.config import IndexConfig
    from search_replica_spark.oracle import doc_id_of
    from search_replica_spark.query.knn import build_knn_store
    from search_replica_spark.query.percolator import register_queries
    from search_replica_spark.streaming.incremental import add_generation

    cfg = IndexConfig(
        shuffle_partitions=4, store_source=True,
        input_columns=("repo", "path", "commit", "lang", "content", "inlined"),
    )

    def with_inlined(pdf):
        return spark.createDataFrame(pdf).withColumn("inlined", F.array(F.struct(
            F.length("content").cast("long").alias("ck"), F.col("lang").alias("value"))))

    add_generation(spark, with_inlined(corpus.iloc[:150]), dest, cfg)
    upd = corpus.iloc[[4, 11]].copy()
    upd["content"] = upd["content"] + " license apache"
    upd["_change_type"] = ["update", "delete"]
    add_generation(spark, with_inlined(upd), dest, cfg)
    ids = [doc_id_of(corpus["repo"][i], corpus["path"][i]) for i in range(150)]
    rng = np.random.default_rng(3)
    build_knn_store(spark, spark.createDataFrame(
        [(d, i % 4, [float(x) for x in rng.normal(size=6)]) for i, d in enumerate(ids)],
        "vec_id long, label int, embedding array<double>"), dest)
    register_queries(spark, dest, [(1, "license apache"), (2, "def return"),
                                   (3, "apache license version", 2)])
    return ids


def test_cli_query_answers_without_a_jvm(
    spark, small_index, small_corpus, small_oracle, queries, tmp_path
):
    """The CLI's read commands answer in the driver and start no JVM: run
    in a fresh interpreter with Java unusable, each prints what the
    session-backed reader answers for the same input (for ``get`` and
    ``termvectors``, the Spark read of the live docs they replaced). The
    default ``query`` prints TermAtATimeScorer's hits, which equal the
    oracle's. ``query --dsl`` answers a query body, a full request with
    highlight and aggs (read from a file), a knn request and a percolate
    body; then ``count``, ``get`` (live, upserted, tombstoned and absent
    ids, on an index with a nested stored column) and ``termvectors``."""
    from pyspark.sql import functions as F

    from search_replica_spark.analysis import tokenize_text
    from search_replica_spark.query.bm25 import count_match
    from search_replica_spark.query.dsl import execute_dsl, execute_request
    from search_replica_spark.streaming.incremental import source_view

    idx_dir, _ = small_index
    scorer = TermAtATimeScorer(IndexReader(spark, idx_dir))
    cases = [*list(zip(queries["query_text"], queries["k"]))[:3], ("zzzzqqq", 10)]
    for qtext, k in cases:
        out = _cli(tmp_path, "query", "--index", idx_dir, "--q", qtext, "-k", str(k))
        got = [(h["doc_id"], h["score"]) for h in json.loads(out)]
        assert got == scorer.score(qtext, int(k)), qtext
        assert_rank_identical(got, small_oracle.score(qtext, int(k)))

    idx = str(tmp_path / "read_side")
    ids = _read_side_index(spark, small_corpus, idx)
    rd = IndexReader(spark, idx)

    def dsl(body, *k):
        return _cli(tmp_path, "query", "--dsl", "--index", idx, "--q", body, *k)

    match = {"query": {"match": {"content": "license apache"}}}
    want = [{"doc_id": d, "score": s} for d, s in execute_dsl(rd, match, 7)]
    assert json.loads(dsl(json.dumps(match), "-k", "7")) == want and len(want) == 7
    full = {**match, "size": 5, "highlight": {"fields": {"content": {}}},
            "aggs": {"langs": {"terms": {"field": "lang"}},
                     "len": {"stats": {"field": "doc_len"}}}}
    (tmp_path / "body.json").write_text(json.dumps(full))
    assert dsl(f"@{tmp_path / 'body.json'}") == json.dumps(execute_request(rd, full)) + "\n"
    qv = [float(x) for x in spark.read.parquet(os.path.join(idx, "knn", "vectors")).first()["emb"]]
    knn = {"knn": {"field": "embedding", "query_vector": qv, "k": 5, "num_candidates": 40}}
    out = dsl(json.dumps(knn))
    assert out == json.dumps(execute_request(rd, {**knn, "size": 10})) + "\n"
    assert len(json.loads(out)["hits"]["hits"]) == 5
    perc = {"query": {"percolate": {"field": "query", "document": {
        "content": "apache license version 2"}}}}
    want = [{"doc_id": d, "score": s} for d, s in execute_dsl(rd, perc, 10)]
    assert json.loads(dsl(json.dumps(perc))) == want
    assert want == [{"doc_id": 1, "score": 1.0}, {"doc_id": 3, "score": 1.0}]

    for q, op in (("license apache", "or"), ("license apache", "and"), ("zzzzqqq", "or")):
        out = _cli(tmp_path, "count", "--index", idx, "--q", q, "--operator", op)
        assert json.loads(out) == {"count": count_match(rd, q, mode=op)}

    asked = [ids[11], 12345, ids[4], ids[2], ids[0]]  # tombstoned, absent, upserted, live
    want = sorted(source_view(spark, idx).filter(F.col("doc_id").isin(asked)).collect(),
                  key=lambda r: r["doc_id"])
    out = _cli(tmp_path, "get", "--index-dir", idx, "--ids", ",".join(map(str, asked)))
    assert out == "".join(json.dumps(r.asDict(), default=str) + "\n" for r in want)
    assert sorted(r["doc_id"] for r in want) == sorted(ids[i] for i in (0, 2, 4))
    assert [r["content"].endswith(" license apache") for r in want if r["doc_id"] == ids[4]] \
        == [True]
    for doc in (ids[4], ids[11], 12345):
        out = json.loads(_cli(tmp_path, "termvectors", "--index-dir", idx, "--id", str(doc)))
        rows = source_view(spark, idx).filter(F.col("doc_id") == doc).collect()
        assert bool(rows) == (doc == ids[4])
        if not rows:
            assert out == {"_id": doc, "found": False}
            continue
        terms: dict = {}
        for pos, tok in enumerate(tokenize_text(rows[0]["content"])):
            e = terms.setdefault(tok, {"term_freq": 0, "positions": []})
            e["term_freq"] += 1
            e["positions"].append(pos)
        assert out == {"_id": doc, "found": True, "term_vectors": {"content": {"terms": terms}}}


def test_every_digest_request_kind_answers_without_a_jvm(spark, tmp_path):
    """Every reader-side answer of ``scripts/answer_digest.py`` (request
    bodies, the in-driver scorer, bool, phrase, the term expansions, the
    fetch phase, rescore, knn and percolate, on plain and generational
    readers, pinned and not) runs with ``IndexReader(None, ...)`` in a
    fresh interpreter with Java unusable, starts no JVM gateway, and
    answers what readers opened with the session answer."""
    from scripts import answer_digest

    ix = answer_digest.build_all(spark, 120, str(tmp_path))
    code = (
        "import json, sys\n"
        "from pyspark import SparkContext\n"
        "from scripts.answer_digest import reader_answers\n"
        "lines = reader_answers(None, json.loads(sys.stdin.read()))\n"
        "assert SparkContext._gateway is None and SparkContext._active_spark_context is None\n"
        "print(json.dumps(lines))\n"
    )
    out = subprocess.run([sys.executable, "-c", code], input=json.dumps(ix), cwd=ROOT,
                         env=_no_jvm_env(tmp_path), capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-2000:]
    got = [tuple(x) for x in json.loads(out.stdout)]
    assert got == answer_digest.reader_answers(spark, ix)
    groups = {g for g, _line in got}
    assert {"knn plain", "percolate multigen", "rescore plain", "fetch multigen"} <= groups
    assert not [line for _g, line in got if "| error" in line]


def test_empty_and_absent_queries(spark, small_index):
    idx_dir, _ = small_index
    reader = IndexReader(spark, idx_dir)
    assert TermAtATimeScorer(reader).score("zzzzqqq", 10) == []
    assert TermAtATimeScorer(reader).score("", 10) == []
    assert bm25_topk_spark(spark, idx_dir, "zzzzqqq", 10).count() == 0


def test_salted_hot_terms_blocks_sorted(spark, small_index):
    """Hot terms (license boilerplate, in most docs, so their rows span
    part files) must still read as one globally docID-sorted posting list
    of exactly their dictionary df."""
    idx_dir, _ = small_index
    reader = IndexReader(spark, idx_dir)
    postings = reader.fetch_postings(["license", "the"])
    dfs = _global_dfs(reader, ["license", "the"])
    assert sorted(postings) == ["license", "the"]
    for term, (docs, tfs) in postings.items():
        assert (np.diff(docs) > 0).all(), f"{term} postings not strictly sorted"
        assert len(docs) == len(tfs) == dfs[term] > 300


def test_jvm_and_arrow_tokenizers_identical(spark, small_corpus):
    """The codegen (regexp_extract_all) and Arrow (pandas) tokenize paths
    must produce the same postings multiset — one analysis, two engines."""
    import pandas as pd

    from search_replica_spark.index.build import (
        tokenize_counts,
        tokenize_counts_jvm,
        with_doc_ids,
    )

    docs = with_doc_ids(spark.createDataFrame(small_corpus.iloc[:300]))
    a = tokenize_counts_jvm(docs).toPandas().sort_values(["doc_id", "term"]).reset_index(drop=True)
    b = tokenize_counts(docs).toPandas().sort_values(["doc_id", "term"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)
    assert len(a) > 1000


def test_pinned_reader_identical(spark, small_index, small_oracle, queries):
    """Driver-pinned serving mode returns the same results as Spark fetch."""
    idx_dir, _ = small_index
    reader = IndexReader(spark, idx_dir).pin_driver()
    scorer = TermAtATimeScorer(reader)
    sub = queries.iloc[[0, 9, 16, 30, 40, 48, 49]]
    for qtext, k in zip(sub["query_text"], sub["k"]):
        got = scorer.score(qtext, int(k))
        want = small_oracle.score(qtext, int(k))
        assert_rank_identical(got, want)


def test_and_mode_rank_identity(spark, small_index, small_oracle):
    """ES operator:and semantics — engine == oracle, incl. absent-term case."""
    idx_dir, _ = small_index
    reader = IndexReader(spark, idx_dir)
    scorer = TermAtATimeScorer(reader)
    for q in ["license apache", "def return", "license zzznope", "the def license"]:
        got = scorer.score(q, 10, mode="and")
        want = small_oracle.score(q, 10, mode="and")
        assert_rank_identical(got, want)
        got_d = [(r["doc_id"], r["score"]) for r in bm25_topk_spark(spark, idx_dir, q, 10, mode="and").collect()]
        assert_rank_identical(got_d, want)
    # AND is a subset of OR with >= scores per doc
    or_res = dict(small_oracle.score("license apache", 200))
    and_res = scorer.score("license apache", 200, mode="and")
    assert all(d in or_res for d, _ in and_res)


def test_edge_corpora(spark, tmp_path):
    """Empty, single-doc, and unicode corpora build and query correctly."""
    import pandas as pd

    from search_replica_spark.config import IndexConfig
    from search_replica_spark.index.build import build_index
    from search_replica_spark.oracle import OracleIndex

    cfg = IndexConfig(shuffle_partitions=2)
    schema = "repo string, path string, commit string, lang string, content string"

    stats = build_index(spark, spark.createDataFrame([], schema), str(tmp_path / "e"), cfg)
    assert stats["n_docs"] == 0 and stats["n_terms"] == 0

    uni = pd.DataFrame(
        {
            "repo": ["r/u"], "path": ["pu"], "commit": ["c" * 40], "lang": ["md"],
            "content": ["héllo wörld 中文 naïve café getFooBar"],
        }
    )
    build_index(spark, spark.createDataFrame(uni), str(tmp_path / "u"), cfg)
    reader = IndexReader(spark, str(tmp_path / "u"))
    oi = OracleIndex.build(uni)
    for q in ["héllo", "caf", "getFooBar"]:
        got = TermAtATimeScorer(reader).score(q, 5)
        want = oi.score(q, 5)
        assert [(d, round(s, 9)) for d, s in got] == [(d, round(s, 9)) for d, s in want]


def test_phrase_query_matches_python_reference(spark, tmp_path):
    """Positional index + phrase_topk (Lucene PhraseQuery semantics: ptf as
    tf, summed idfs) vs an independent pure-Python implementation."""
    import math

    from search_replica_spark.analysis import tokenize_text
    from search_replica_spark.config import IndexConfig
    from search_replica_spark.corpus import generate_corpus
    from search_replica_spark.index.build import build_index
    from search_replica_spark.oracle import doc_id_of
    from search_replica_spark.query.bm25 import phrase_topk

    c = generate_corpus(500)
    out = str(tmp_path / "pidx")
    build_index(spark, spark.createDataFrame(c), out,
                IndexConfig(shuffle_partitions=4, store_positions=True))
    rd = IndexReader(spark, out)

    toks = {doc_id_of(r.repo, r.path): tokenize_text(r.content) for r in c.itertuples()}
    n = len(toks)
    avgdl = sum(len(t) for t in toks.values()) / n
    k1, b = 1.2, 0.75

    def py_phrase(phrase, k):
        q = tokenize_text(phrase)
        df = {t: sum(1 for tk in toks.values() if t in set(tk)) for t in set(q)}
        if any(df[t] == 0 for t in q):
            return []
        idf_sum = sum(math.log(1 + (n - df[t] + 0.5) / (df[t] + 0.5)) for t in q)
        hits = []
        for d, tk in toks.items():
            ptf = sum(1 for i in range(len(tk) - len(q) + 1) if tk[i : i + len(q)] == q)
            if ptf:
                dl = len(tk)
                hits.append((d, idf_sum * ptf / (ptf + k1 * (1 - b + b * dl / avgdl))))
        hits.sort(key=lambda t: (-t[1], t[0]))
        return hits[:k]

    phrases = [
        "apache license version",      # boilerplate: high df
        "license apache",              # reversed order: rare/absent
        "the apache",                  # 2-term
        "compliance with the license", # 4-term
        "zzz not there",               # absent
    ]
    matched_any = False
    for ph in phrases:
        got = canon(phrase_topk(rd, ph, 10))
        want = canon(py_phrase(ph, 10))
        assert got == want, ph
        matched_any = matched_any or bool(got)
    assert matched_any  # the fixture really exercises phrase matching


def test_sloppy_phrase_matches_python_reference(spark, tmp_path):
    """phrase_topk(slop>0): nearest-occurrence proximity spec vs an
    independent pure-Python implementation, incl. a 3-term phrase."""
    import math

    from search_replica_spark.analysis import tokenize_text
    from search_replica_spark.config import IndexConfig
    from search_replica_spark.corpus import generate_corpus
    from search_replica_spark.index.build import build_index
    from search_replica_spark.oracle import doc_id_of
    from search_replica_spark.query.bm25 import phrase_topk

    c = generate_corpus(400)
    out = str(tmp_path / "pidx")
    build_index(spark, spark.createDataFrame(c), out,
                IndexConfig(shuffle_partitions=4, store_positions=True))
    rd = IndexReader(spark, out)

    toks = {doc_id_of(r.repo, r.path): tokenize_text(r.content) for r in c.itertuples()}
    n = len(toks)
    avgdl = sum(len(t) for t in toks.values()) / n
    k1, b = 1.2, 0.75

    def py_sloppy(phrase, k, slop):
        q = tokenize_text(phrase)
        df = {t: sum(1 for tk in toks.values() if t in set(tk)) for t in set(q)}
        if any(df[t] == 0 for t in q):
            return []
        idf_sum = sum(math.log(1 + (n - df[t] + 0.5) / (df[t] + 0.5)) for t in q)
        hits = []
        for d, tk in toks.items():
            pos = {t: [i for i, x in enumerate(tk) if x == t] for t in set(q)}
            if any(not pos[t] for t in q):
                continue
            ptf = 0.0
            for p0 in pos[q[0]]:
                m = sum(min(abs(p - (p0 + i)) for p in pos[t])
                        for i, t in enumerate(q[1:], start=1))
                if m <= slop:
                    ptf += 1.0 / (m + 1)
            if ptf:
                dl = len(tk)
                hits.append((d, idf_sum * ptf / (ptf + k1 * (1 - b + b * dl / avgdl))))
        hits.sort(key=lambda t: (-t[1], t[0]))
        return hits[:k]

    cases = [("apache license", 1), ("license version", 1),
             ("the apache version", 1), ("under the license", 0)]
    matched_any = False
    for ph, slop in cases:
        got = canon(phrase_topk(rd, ph, 10, slop=slop))
        want = canon(py_sloppy(ph, 10, slop))
        assert got == want, (ph, slop)
        matched_any = matched_any or bool(got)
    assert matched_any
