"""ES Query-DSL executor (query/dsl.py): composition must equal the
verified primitives, and the reference demo's own request must run
VERBATIM (demo/README.md:18-42 — bool/should/has_child/min_children/
inner_hits over a parent-child join-field index)."""

import json

import pytest


@pytest.fixture(scope="module")
def dsl_index(spark, tmp_path_factory):
    """Positional plain index over the deterministic corpus + its reader."""
    from search_replica_spark.config import IndexConfig
    from search_replica_spark.corpus import generate_corpus
    from search_replica_spark.index.build import build_index
    from search_replica_spark.query.bm25 import IndexReader

    out = str(tmp_path_factory.mktemp("dslidx"))
    build_index(
        spark,
        spark.createDataFrame(generate_corpus(250)),
        out,
        IndexConfig(shuffle_partitions=4, store_positions=True, store_source=True),
    )
    return IndexReader(spark, out)


def test_dsl_leaves_match_primitives(dsl_index):
    from search_replica_spark.query.bm25 import bool_topk, phrase_topk, prefix_match
    from search_replica_spark.query.dsl import execute_dsl

    rd = dsl_index
    n = rd.doc_arrays()[1].size

    # match (default OR) == bool/should; operator:and == bool/must
    assert execute_dsl(rd, {"match": {"content": "license"}}, k=5) == bool_topk(
        rd, should=["license"], k=5
    )
    assert execute_dsl(
        rd, {"match": {"content": {"query": "apache license", "operator": "and"}}}, k=5
    ) == bool_topk(rd, must=["apache license"], k=5)
    # the {"query": ...} request wrapper is unwrapped
    assert execute_dsl(rd, {"query": {"match": {"content": "license"}}}, k=5) == bool_topk(
        rd, should=["license"], k=5
    )
    # match_phrase == phrase_topk
    assert execute_dsl(rd, {"match_phrase": {"content": "apache license"}}, k=5) == (
        phrase_topk(rd, "apache license", 5)
    )
    # prefix == constant-score expansion, doc_id order at equal score
    ids = prefix_match(rd, "lic")
    assert execute_dsl(rd, {"prefix": {"content": {"value": "lic"}}}, k=5) == [
        (d, 1.0) for d in sorted(ids)[:5]
    ]
    # ids query returns exactly the existing requested docs at const score
    _dl, doc_ids = rd.doc_arrays()
    want = sorted([int(doc_ids[0]), int(doc_ids[7])])
    got = execute_dsl(rd, {"ids": {"values": want + [10**17]}}, k=10)
    assert got == [(d, 1.0) for d in want]
    # unsupported kind fails loudly, never silently matches nothing
    with pytest.raises(ValueError):
        execute_dsl(rd, {"knn_totally_new": {}}, k=5)
    assert n > 0


def test_dsl_bool_composition(dsl_index):
    from search_replica_spark.query.bm25 import bool_topk
    from search_replica_spark.query.dsl import execute_dsl

    rd = dsl_index
    n = rd.doc_arrays()[1].size
    q = {
        "bool": {
            "must": [{"match": {"content": "spark"}}],
            "should": [{"match": {"content": "join"}}, {"match": {"content": "window"}}],
            "must_not": [{"match": {"content": "hash"}}],
        }
    }
    # must gates, should adds, must_not excludes — same doc set and scores
    # as the harness-verified bool_topk (float sums may associate in a
    # different order; compare at 1e-9)
    want = dict(bool_topk(rd, must=["spark"], should=["join", "window"],
                          must_not=["hash"], k=n))
    got = dict(execute_dsl(rd, q, k=n))
    assert set(got) == set(want)
    assert all(abs(got[d] - want[d]) < 1e-9 for d in got)

    # pure filter context scores 0 and intersects
    t1 = {d for d, _ in execute_dsl(rd, {"match": {"content": "spark"}}, k=n)}
    t2 = {d for d, _ in execute_dsl(rd, {"match": {"content": "join"}}, k=n)}
    fq = {"bool": {"filter": [{"term": {"content": {"value": "spark"}}},
                              {"term": {"content": {"value": "join"}}}]}}
    got_f = execute_dsl(rd, fq, k=n)
    assert {d for d, _ in got_f} == (t1 & t2)
    assert all(s == 0.0 for _, s in got_f)

    # minimum_should_match on a pure-should bool
    msm2 = {
        "bool": {
            "should": [{"match": {"content": "spark"}},
                       {"match": {"content": "join"}},
                       {"match": {"content": "window"}}],
            "minimum_should_match": 2,
        }
    }
    t3 = {d for d, _ in execute_dsl(rd, {"match": {"content": "window"}}, k=n)}
    want_set = {d for d in t1 | t2 | t3
                if (d in t1) + (d in t2) + (d in t3) >= 2}
    assert {d for d, _ in execute_dsl(rd, msm2, k=n)} == want_set


def test_dsl_compound_scoring(dsl_index):
    from search_replica_spark.query.dsl import execute_dsl, _score_map

    rd = dsl_index
    n = rd.doc_arrays()[1].size
    a = _score_map(rd, {"match": {"content": "spark"}}, None)
    b = _score_map(rd, {"match": {"content": "join"}}, None)

    # dis_max: best + tie_breaker * rest
    got = dict(execute_dsl(
        rd,
        {"dis_max": {"tie_breaker": 0.3,
                     "queries": [{"match": {"content": "spark"}},
                                 {"match": {"content": "join"}}]}},
        k=n,
    ))
    for d in set(a) | set(b):
        vals = [m[d] for m in (a, b) if d in m]
        assert abs(got[d] - (max(vals) + 0.3 * (sum(vals) - max(vals)))) < 1e-12

    # constant_score: boost for every filter match
    got = execute_dsl(
        rd, {"constant_score": {"filter": {"match": {"content": "spark"}}, "boost": 2.5}}, k=n
    )
    assert {d for d, _ in got} == set(a) and all(s == 2.5 for _, s in got)

    # boosting: negative matches keep rank but score * negative_boost
    got = dict(execute_dsl(
        rd,
        {"boosting": {"positive": {"match": {"content": "spark"}},
                      "negative": {"match": {"content": "join"}},
                      "negative_boost": 0.5}},
        k=n,
    ))
    for d, s in a.items():
        assert got[d] == (s * 0.5 if d in b else s)


@pytest.fixture(scope="module")
def pc_index(spark, tmp_path_factory):
    """Parent/child join-field index (demo/mapping.json contract): parents
    = 4 authors, children = posts pointing at their parent via join_parent.
    Parent 101 has 3 posts, 102 has 1, 103 has none; child 99001 is the
    only post whose body says 'hello'."""
    from search_replica_spark.config import IndexConfig
    from search_replica_spark.index.build import build_index
    from search_replica_spark.operators.fulltext import _OrigIdReader

    rows = [
        # (id, content, join_name, join_parent)
        (101, "author alpha writes", "immaparent", None),
        (102, "author beta writes", "immaparent", None),
        (103, "author gamma silent", "immaparent", None),
        (99001, "post hello world", "immachild", "101"),
        (99002, "post spark engine", "immachild", "101"),
        (99003, "post join window", "immachild", "101"),
        (99004, "post hello again wait no just world", "immachild", "102"),
    ]
    df = spark.createDataFrame(
        [("pc", f"doc_{i}", "0" * 40, "en", c, jn, jp) for i, c, jn, jp in rows],
        "repo string, path string, commit string, lang string, "
        "content string, join_name string, join_parent string",
    )
    out = str(tmp_path_factory.mktemp("pcidx"))
    build_index(
        spark, df, out,
        IndexConfig(
            shuffle_partitions=4,
            input_columns=(
                "repo", "path", "commit", "lang", "content",
                "join_name", "join_parent",
            ),
            field_analyzers=(
                ("content", "text"),
                ("join_name", "keyword"),
                ("join_parent", "keyword"),
            ),
        ),
    )
    return _OrigIdReader(spark, out)


# the reference demo's own request body, byte-for-byte the curl --data-raw
# of demo/README.md:41
_DEMO_BODY = (
    '{"query":{"bool": {"should": [ { "has_child": { "type": "immachild", '
    '"inner_hits": { "_source": true }, "query": { "match_all": {} }, '
    '"min_children": 1 } } ] } } }'
)


def test_dsl_demo_query_verbatim(pc_index):
    from search_replica_spark.query.dsl import execute_dsl

    ih = {}
    hits = execute_dsl(pc_index, json.loads(_DEMO_BODY), k=10, inner_hits=ih)
    # every parent with >= 1 child, ES order (score 0 tie → doc_id asc);
    # childless 103 and the child docs themselves are absent
    assert hits == [(101, 0.0), (102, 0.0)]
    # inner_hits: top-3 matching children per parent (id asc at equal score)
    assert {p: [c for c, _s in v] for p, v in ih.items()} == {
        101: [99001, 99002, 99003], 102: [99004]
    }


def test_dsl_has_child_modes(pc_index):
    from search_replica_spark.query.dsl import _score_map, execute_dsl

    rd = pc_index
    # min_children drops parents below the count threshold
    got = execute_dsl(
        rd,
        {"has_child": {"type": "immachild", "query": {"match_all": {}},
                       "min_children": 2}},
        k=10,
    )
    assert got == [(101, 0.0)]
    # inner query restricts which children count
    got = execute_dsl(
        rd, {"has_child": {"type": "immachild",
                           "query": {"match": {"content": "hello"}}}}, k=10
    )
    assert [d for d, _ in got] == [101, 102]
    # score_mode sum == sum of matching child scores per parent
    child = _score_map(rd, {"match": {"content": "hello"}}, None)
    got = dict(execute_dsl(
        rd, {"has_child": {"type": "immachild", "score_mode": "sum",
                           "query": {"match": {"content": "hello"}}}}, k=10
    ))
    assert abs(got[101] - child[99001]) < 1e-12
    assert abs(got[102] - child[99004]) < 1e-12
    # the type gate is real: no doc carries join_name 'nosuch'
    assert execute_dsl(
        rd, {"has_child": {"type": "nosuch", "query": {"match_all": {}}}}, k=10
    ) == []


def test_dsl_has_parent_and_parent_id(pc_index):
    from search_replica_spark.query.dsl import _score_map, execute_dsl

    rd = pc_index
    # has_parent: children whose parent matches; default score 0
    got = execute_dsl(
        rd,
        {"has_parent": {"parent_type": "immaparent",
                        "query": {"match": {"content": "alpha"}}}},
        k=10,
    )
    assert got == [(99001, 0.0), (99002, 0.0), (99003, 0.0)]
    # score=true carries the parent's score down to each child
    pscore = _score_map(rd, {"match": {"content": "alpha"}}, None)[101]
    got = dict(execute_dsl(
        rd,
        {"has_parent": {"parent_type": "immaparent", "score": True,
                        "query": {"match": {"content": "alpha"}}}},
        k=10,
    ))
    assert all(abs(s - pscore) < 1e-12 for s in got.values())
    # parent_id: the children of one parent, const score
    got = execute_dsl(rd, {"parent_id": {"type": "immachild", "id": 102}}, k=10)
    assert got == [(99004, 1.0)]


def test_dsl_mlt_pinned_wrapper_function_score(dsl_index):
    import base64

    from search_replica_spark.query.bm25 import (
        function_score_topk,
        more_like_this_topk,
    )
    from search_replica_spark.query.dsl import execute_dsl

    rd = dsl_index
    n = rd.doc_arrays()[1].size
    _dl, doc_ids = rd.doc_arrays()
    src = int(doc_ids.min())

    # more_like_this by free text == the primitive
    got = execute_dsl(
        rd, {"more_like_this": {"like": "apache license version", "max_query_terms": 5}}, k=8
    )
    assert got == more_like_this_topk(rd, "apache license version", k=8, max_query_terms=5)

    # by {"_id": ...}: reads the stored _source and EXCLUDES the source doc
    got = execute_dsl(rd, {"more_like_this": {"like": {"_id": src}}}, k=10)
    assert got and all(d != src for d, _s in got)
    # include=true keeps it (the source is its own best match)
    got_inc = execute_dsl(
        rd, {"more_like_this": {"like": {"_id": src}, "include": True}}, k=10
    )
    assert got_inc[0][0] == src

    # pinned: listed ids first IN ORDER (even non-matching ones), organic after
    organic = execute_dsl(rd, {"match": {"content": "license"}}, k=n)
    organic_ids = [d for d, _s in organic]
    pin = [int(doc_ids.max()), int(doc_ids.min())]
    assert pin[0] not in organic_ids[:2] and pin[1] not in organic_ids[:2]
    got = execute_dsl(
        rd, {"pinned": {"ids": pin, "organic": {"match": {"content": "license"}}}}, k=5
    )
    assert [d for d, _s in got] == pin + [d for d in organic_ids if d not in pin][:3]
    # a pin that doesn't exist is dropped, not invented
    got = execute_dsl(
        rd, {"pinned": {"ids": [10**17], "organic": {"match": {"content": "license"}}}}, k=3
    )
    assert [d for d, _s in got] == organic_ids[:3]

    # wrapper: base64 body decodes and runs verbatim
    b64 = base64.b64encode(b'{"match": {"content": "license"}}').decode()
    assert execute_dsl(rd, {"wrapper": {"query": b64}}, k=5) == organic[:5]

    # function_score(field_value_factor ln1p, multiply) == the primitive
    got = execute_dsl(
        rd,
        {"function_score": {"query": {"match": {"content": "license"}},
                            "field_value_factor": {"field": "doc_len",
                                                   "modifier": "ln1p"}}},
        k=7,
    )
    assert got == function_score_topk(rd, "license", 7)


def test_dsl_new_query_kinds(dsl_index):
    from search_replica_spark.query.bm25 import bool_topk, prefix_match
    from search_replica_spark.query.dsl import execute_dsl

    rd = dsl_index
    n = rd.doc_arrays()[1].size
    # match_bool_prefix: BM25 should terms + constant prefix on last token
    full = dict(bool_topk(rd, should=["apache"], k=n))
    pref = set(prefix_match(rd, "lic", max_expansions=None))
    got = dict(execute_dsl(
        rd,
        {"match_bool_prefix": {"content": {"query": "apache lic",
                                           "max_expansions": None}}},
        k=n,
    ))
    assert set(got) == set(full) | pref
    for d in got:
        assert abs(got[d] - (full.get(d, 0.0) + (1.0 if d in pref else 0.0))) < 1e-12
    # multi_match on a plain index: most_fields over one field == match
    want = execute_dsl(rd, {"match": {"content": "license"}}, k=5)
    assert execute_dsl(
        rd, {"multi_match": {"query": "license", "fields": ["content"],
                             "type": "most_fields"}}, k=5
    ) == want


def test_execute_request_full_body(dsl_index):
    from search_replica_spark.query.dsl import execute_dsl, execute_request

    rd = dsl_index
    base = execute_dsl(rd, {"match": {"content": "license"}}, k=10**6)

    # paging: from/size slices the same ES-ordered ranking; totals exact
    r = execute_request(rd, {"query": {"match": {"content": "license"}},
                             "from": 2, "size": 3})
    assert r["hits"]["total"] == {"value": len(base), "relation": "eq"}
    assert [(h["_id"], h["_score"]) for h in r["hits"]["hits"]] == base[2:5]

    # min_score drops low scorers from hits AND the total
    cut = base[len(base) // 2][1]
    r = execute_request(rd, {"query": {"match": {"content": "license"}},
                             "min_score": cut, "size": 10**6})
    assert r["hits"]["total"]["value"] == sum(1 for _d, s in base if s >= cut)
    assert all(h["_score"] >= cut for h in r["hits"]["hits"])

    # sort _doc = doc_id ascending regardless of score
    r = execute_request(rd, {"query": {"match": {"content": "license"}},
                             "sort": ["_doc"], "size": 5})
    ids = [h["_id"] for h in r["hits"]["hits"]]
    assert ids == sorted(d for d, _s in base)[:5]

    # highlight wraps the matched term in the stored content
    r = execute_request(rd, {"query": {"match": {"content": "license"}},
                             "size": 3,
                             "highlight": {"fields": {"content": {}}}})
    assert r["hits"]["hits"], "expected hits"
    for h in r["hits"]["hits"]:
        assert "<em>" in h["highlight"]["content"][0].lower()
        assert "license" in h["highlight"]["content"][0].lower().replace(
            "<em>", "").replace("</em>", "")

    # default query is match_all; default sort is _score then _id
    r = execute_request(rd, {"size": 4})
    assert r["hits"]["total"]["value"] == rd.doc_arrays()[1].size
    assert [h["_score"] for h in r["hits"]["hits"]] == [1.0] * 4


def test_execute_request_refuses_unknown_top_level_keys(dsl_index, capsys):
    """A top-level key the request does not read is an error naming it,
    as ES's parse error is: a bare query object is not a request body and
    must not answer match_all. ``query --dsl`` prints that error and exits
    non-zero with nothing on stdout."""
    from search_replica_spark.__main__ import main
    from search_replica_spark.query.dsl import execute_request

    rd = dsl_index
    bare = {"match": {"content": "license"}}
    with pytest.raises(ValueError, match="'match'"):
        execute_request(rd, bare)
    with pytest.raises(ValueError, match="'qurey'"):
        execute_request(rd, {"qurey": {"match_all": {}}, "size": 3})
    r = execute_request(rd, {"query": bare, "track_total_hits": True, "size": 2})
    assert len(r["hits"]["hits"]) == 2

    with pytest.raises(SystemExit) as e:
        main(["query", "--dsl", "--index", rd.index_dir, "--q", json.dumps(bare)])
    assert "'match'" in str(e.value.code)
    assert capsys.readouterr().out == ""


def test_execute_request_aggs_and_field_sort(spark, dsl_index):
    from search_replica_spark.query.dsl import execute_request

    rd = dsl_index
    docs = spark.read.parquet(rd.index_dir + "/docs")

    # terms agg over the matched set == groupBy over the same docs
    r = execute_request(rd, {"query": {"match": {"content": "license"}},
                             "size": 0,
                             "aggs": {"langs": {"terms": {"field": "lang",
                                                          "size": 3}}}})
    assert r["hits"]["hits"] == [] and r["hits"]["total"]["value"] > 0
    buckets = r["aggregations"]["langs"]["buckets"]
    assert buckets == sorted(buckets, key=lambda b: (-b["doc_count"], b["key"]))[:3]
    assert sum(b["doc_count"] for b in buckets) <= r["hits"]["total"]["value"]

    # stats/cardinality over match_all == whole-docs-store truth
    n_docs = docs.count()
    r = execute_request(rd, {"size": 0, "aggs": {
        "dl": {"stats": {"field": "doc_len"}},
        "nlang": {"cardinality": {"field": "lang"}},
    }})
    from pyspark.sql import functions as F
    truth = docs.agg(F.count("doc_len"), F.sum("doc_len"),
                     F.countDistinct("lang")).collect()[0]
    assert r["aggregations"]["dl"]["count"] == truth[0] == n_docs
    assert r["aggregations"]["dl"]["sum"] == truth[1]
    assert r["aggregations"]["nlang"]["value"] == truth[2]

    # stored-field sort: doc_len descending, id tie-break; sort value rides
    r = execute_request(rd, {"query": {"match": {"content": "license"}},
                             "sort": [{"doc_len": {"order": "desc"}}],
                             "size": 5})
    vals = [h["sort"][0] for h in r["hits"]["hits"]]
    assert vals == sorted(vals, reverse=True) and len(vals) == 5
    assert all("_score" in h for h in r["hits"]["hits"])


def test_execute_request_search_after(dsl_index):
    from search_replica_spark.query.dsl import execute_request

    rd = dsl_index
    q = {"query": {"match": {"content": "license"}}}
    # page 1, then cursor from its last hit must yield exactly page 2
    p1 = execute_request(rd, {**q, "size": 5})["hits"]["hits"]
    p2_cursor = execute_request(
        rd, {**q, "size": 5,
             "search_after": [p1[-1]["_score"], p1[-1]["_id"]]}
    )["hits"]["hits"]
    p12 = execute_request(rd, {**q, "size": 10})["hits"]["hits"]
    assert [h["_id"] for h in p1 + p2_cursor] == [h["_id"] for h in p12]
    # _doc order cursor
    d1 = execute_request(rd, {**q, "sort": ["_doc"], "size": 5})["hits"]["hits"]
    d2 = execute_request(
        rd, {**q, "sort": ["_doc"], "size": 5, "search_after": [d1[-1]["_id"]]}
    )["hits"]["hits"]
    assert d1[-1]["_id"] < d2[0]["_id"]


def test_dsl_query_string(dsl_index):
    from search_replica_spark.query.dsl import execute_dsl, _score_map

    rd = dsl_index
    n = rd.doc_arrays()[1].size
    a = _score_map(rd, {"match": {"content": "spark"}}, None)
    b = _score_map(rd, {"match": {"content": "join"}}, None)
    c = _score_map(rd, {"match": {"content": "window"}}, None)

    def qs(text, **kw):
        return dict(execute_dsl(rd, {"query_string": {"query": text, **kw}}, k=n))

    # AND intersects and sums
    got = qs("spark AND join")
    assert set(got) == set(a) & set(b)
    assert all(abs(got[d] - (a[d] + b[d])) < 1e-12 for d in got)
    # OR unions and sums
    got = qs("spark OR join")
    assert set(got) == set(a) | set(b)
    # NOT excludes within its AND group
    got = qs("spark AND NOT join")
    assert set(got) == set(a) - set(b) and all(got[d] == a[d] for d in got)
    # '-' is NOT
    assert qs("spark AND -join") == got
    # precedence: a OR b AND c == a OR (b AND c)
    got = qs("spark OR join AND window")
    assert set(got) == set(a) | (set(b) & set(c))
    # parentheses override
    got = qs("(spark OR join) AND window")
    assert set(got) == (set(a) | set(b)) & set(c)
    # quoted phrase is a leaf
    ph = _score_map(rd, {"match_phrase": {"content": "apache license"}}, None)
    got = qs('"apache license" AND spark')
    assert set(got) == set(ph) & set(a)
    # default_operator=and: bare juxtaposition conjoins
    assert set(qs("spark join", default_operator="and")) == set(a) & set(b)
    # pure negation fails loudly
    with pytest.raises(ValueError):
        qs("NOT spark")


def test_dsl_query_string_parser_never_crashes():
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from search_replica_spark.query.dsl import _qs_parse, _qs_tokens

    @settings(max_examples=300, deadline=None)
    @given(st.text(alphabet='ab ()"-ANDORT', max_size=40),
           st.sampled_from(["or", "and"]))
    def check(text, op):
        try:
            node, _p = _qs_parse(_qs_tokens(text), 0, op)
        except ValueError:
            return  # malformed input must fail loudly, never crash
        assert node is not None

    check()


def test_dsl_terms_lookup_form(dsl_index):
    from search_replica_spark.query.bm25 import terms_lookup
    from search_replica_spark.query.dsl import execute_dsl

    rd = dsl_index
    _dl, ids = rd.doc_arrays()
    src = int(ids[0])
    want = terms_lookup(rd, src)
    got = execute_dsl(
        rd,
        {"terms": {"content": {"index": "self", "id": src, "path": "content"}}},
        k=len(want) + 5,
    )
    assert [d for d, _s in got] == want
    assert all(s == 1.0 for _d, s in got)


def test_dsl_rank_feature(dsl_index):
    from search_replica_spark.query.dsl import execute_dsl

    rd = dsl_index
    dl, ids = rd.doc_arrays()
    got = dict(execute_dsl(
        rd, {"rank_feature": {"field": "doc_len",
                              "saturation": {"pivot": 50.0}, "boost": 2.0}},
        k=ids.size,
    ))
    for i in range(0, ids.size, 37):
        want = 2.0 * (dl[i] / (dl[i] + 50.0))
        assert abs(got[int(ids[i])] - want) < 1e-12
    # inside a bool: filter gates, rank_feature adds its saturation score
    q = {"bool": {"filter": [{"match": {"content": "license"}}],
                  "should": [{"rank_feature": {"field": "doc_len",
                                               "saturation": {"pivot": 50.0}}}]}}
    hits = dict(execute_dsl(rd, q, k=ids.size))
    lic = {d for d, _ in execute_dsl(rd, {"match": {"content": "license"}}, k=ids.size)}
    assert set(hits) == lic and all(0 < s < 1 for s in hits.values())


def test_execute_request_knn_section(spark, dsl_index):
    import numpy as np

    from search_replica_spark.query.dsl import execute_dsl, execute_request
    from search_replica_spark.query.knn import build_knn_store, knn_query

    rd = dsl_index
    _dl, ids = rd.doc_arrays()
    rng = np.random.default_rng(11)
    vecs = [(int(d), int(i % 4), [float(x) for x in rng.normal(size=8)])
            for i, d in enumerate(ids[:60])]
    emb = spark.createDataFrame(
        vecs, "vec_id long, label int, embedding array<double>"
    )
    build_knn_store(spark, emb, rd.index_dir)

    qv = vecs[3][2]
    # knn-only request: hits == knn_query, ES-shaped
    r = execute_request(rd, {"knn": {"field": "embedding", "query_vector": qv,
                                     "k": 5, "num_candidates": 60}})
    want = knn_query(rd.index_dir, qv, k=5, num_candidates=60)
    assert [(h["_id"], h["_score"]) for h in r["hits"]["hits"]] == want
    assert want[0][0] == vecs[3][0] and want[0][1] == 1.0  # self-match tops

    # query + knn: union scored additively (query score + boost * cosine)
    qpart = dict(execute_dsl(rd, {"match": {"content": "license"}}, k=10**6))
    r = execute_request(rd, {"query": {"match": {"content": "license"}},
                             "knn": {"field": "embedding", "query_vector": qv,
                                     "k": 5, "num_candidates": 60, "boost": 2.0},
                             "size": 10**6})
    got = {h["_id"]: h["_score"] for h in r["hits"]["hits"]}
    kmap = dict(want)
    assert set(got) == set(qpart) | set(kmap)
    for d, s in got.items():
        assert abs(s - (qpart.get(d, 0.0) + 2.0 * kmap.get(d, 0.0))) < 1e-12


def _knn_spark(spark, index_dir, query_vector, k, num_candidates):
    """The Spark probe ``knn_query`` ran before it read in the driver, kept
    as the reference: the centroids through Spark, then one
    partition-pruned scan of the probed labels scoring cosine with
    ``zip_with``/``aggregate`` folds, ``round(sim, 5)`` and a TakeOrdered
    top-k."""
    import os

    import numpy as np
    from pyspark.sql import functions as F

    from search_replica_spark.query.knn import knn_store_dir, probe_for_candidates

    def dot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
        )

    dest = knn_store_dir(index_dir)
    cent = spark.read.parquet(os.path.join(dest, "centroids")).toPandas()
    qvec = np.asarray(query_vector, dtype=np.float64)
    probe = probe_for_candidates(cent, qvec, int(num_candidates))
    q = F.array(*[F.lit(float(x)) for x in qvec])
    sim = dot(F.col("emb"), q) / (F.sqrt(dot(F.col("emb"), F.col("emb"))) * F.sqrt(dot(q, q)))
    rows = (
        spark.read.parquet(os.path.join(dest, "vectors"))
        .filter(F.col("label").isin(probe))
        .select("vec_id", F.round(sim, 5).alias("sim"))
        .orderBy(F.col("sim").desc(), F.col("vec_id").asc())
        .limit(int(k))
        .collect()
    )
    return [(int(r["vec_id"]), float(r["sim"])) for r in rows]


def test_knn_query_equals_spark_reference(spark, tmp_path):
    """``knn_query`` reads the store in the driver and returns the Spark
    probe's hits bit for bit: on a test store with duplicate vectors (score
    ties break on vec_id) and on the sf0.01 harness store
    (``dsl_knn_search_top10``'s), across candidate pools that probe one
    cluster, several and all. Its rounding is Spark's ``round(x, 5)``
    (HALF_UP on the decimal string) on values at the rounding boundary, and
    a zero vector is refused."""
    import os

    import numpy as np
    from pyspark.sql import functions as F

    from scripts.check_harness import SF_DIR  # the sf0.01 harness data
    from search_replica_spark.operators.similarity import dsl_knn_search_top10, knn_host_dir
    from search_replica_spark.query.knn import _round5, build_knn_store, knn_query

    rng = np.random.default_rng(7)
    vecs = [(i, i % 6, [float(x) for x in rng.normal(size=12)]) for i in range(600)]
    vecs += [(600 + i, v[1], v[2]) for i, v in enumerate(vecs[:40])]  # exact ties
    store = str(tmp_path / "knn")
    build_knn_store(spark, spark.createDataFrame(
        vecs, "vec_id long, label int, embedding array<double>"), store)
    dsl_knn_search_top10(spark, SF_DIR)  # writes the harness store if it is missing
    host = knn_host_dir(SF_DIR)
    harness = spark.read.parquet(os.path.join(host, "knn", "vectors")).select("emb")
    stores = [(store, [v[2] for v in vecs[::25]] + [list(rng.normal(size=12))]),
              (host, [list(r["emb"]) for r in harness.limit(12).collect()])]
    for where, queries in stores:
        for qv in queries:
            for k, nc in ((10, 1), (25, 150), (700, 10**6)):
                assert knn_query(where, qv, k, nc) == _knn_spark(spark, where, qv, k, nc)

    edge = [0.123455, -0.123455, 0.000015, 0.000025, 0.999995, 0.5, -0.0, 1e-07,
            0.12345499999999999, 0.1234550000000001, *rng.uniform(-1, 1, 50)]
    rows = spark.createDataFrame([(float(x),) for x in edge], "x double").select(
        F.round("x", 5).alias("r")).collect()
    assert [_round5(float(x)) for x in edge] == [r["r"] for r in rows]
    with pytest.raises(ValueError, match="zeros"):
        knn_query(store, [0.0] * 12, 5, 10)


def test_dsl_span_or(dsl_index):
    from search_replica_spark.query.bm25 import span_near_or_topk, _expansion_docs
    from search_replica_spark.query.dsl import execute_dsl

    rd = dsl_index
    n = rd.doc_arrays()[1].size
    q = {"span_near": {
        "clauses": [
            {"span_term": {"content": "apache"}},
            {"span_or": {"clauses": [{"span_term": {"content": "license"}},
                                     {"span_term": {"content": "version"}}]}},
        ],
        "slop": 2, "in_order": True,
    }}
    got = execute_dsl(rd, q, k=10)
    want = span_near_or_topk(rd, [["apache"], ["license", "version"]], 10, slop=2)
    assert got == want and got, "span_or chain should match and be non-empty"
    # the union clause matches at least as much as either single alternative
    single = span_near_or_topk(rd, [["apache"], ["license"]], n, slop=2)
    union = span_near_or_topk(rd, [["apache"], ["license", "version"]], n, slop=2)
    assert {d for d, _ in single} <= {d for d, _ in union}
    # standalone span_or == constant-score union
    got = execute_dsl(
        rd, {"span_or": {"clauses": [{"span_term": {"content": "license"}},
                                     {"span_term": {"content": "version"}}]}}, k=n
    )
    ids = _expansion_docs(rd, ["license", "version"], None)
    assert [d for d, _ in got] == ids


def test_dsl_span_not(dsl_index):
    from search_replica_spark.query.bm25 import span_not_topk
    from search_replica_spark.query.dsl import execute_dsl

    rd = dsl_index
    n = rd.doc_arrays()[1].size
    # pair chosen so exclusion BITES on this corpus: 1 of 8 matching docs
    # has every include occurrence inside the exclude window
    inc, exc, pre, post = "netbo", "eltra", 2, 1
    q = {"span_not": {"include": {"span_term": {"content": inc}},
                      "exclude": {"span_term": {"content": exc}},
                      "pre": pre, "post": post}}
    got = execute_dsl(rd, q, k=n)
    want = span_not_topk(rd, inc, exc, pre=pre, post=post, k=n)
    assert got == want
    # docs where EVERY include occurrence sits in an exclude window drop
    # relative to the plain term query; the rest survive
    plain = {d for d, _ in execute_dsl(rd, {"match": {"content": inc}}, k=n)}
    kept = {d for d, _ in got}
    assert kept < plain and kept
    # a never-present exclude term keeps every occurrence (plain-term tf)
    all_kept = span_not_topk(rd, inc, "zzzznotaterm", k=n)
    assert {d for d, _ in all_kept} == plain


def test_delete_by_query(spark, tmp_path):
    from search_replica_spark.config import IndexConfig
    from search_replica_spark.corpus import generate_corpus
    from search_replica_spark.index.build import build_index
    from search_replica_spark.query.bm25 import TermAtATimeScorer
    from search_replica_spark.query.dsl import execute_dsl
    from search_replica_spark.streaming.incremental import (
        MultiGenReader,
        delete_by_query,
    )

    out = str(tmp_path / "dbqidx")
    build_index(
        spark, spark.createDataFrame(generate_corpus(120)), out,
        IndexConfig(shuffle_partitions=4, store_source=True),
    )
    from search_replica_spark.query.bm25 import IndexReader

    before = {d for d, _ in TermAtATimeScorer(IndexReader(spark, out)).score("license", 10**6)}
    assert before
    st = delete_by_query(spark, out, "license")
    assert st["deleted"] == len(before)
    rd = MultiGenReader(spark, out)
    live = getattr(rd, "_live", None)
    # the deleted docs no longer match anything; the rest still do
    assert TermAtATimeScorer(rd).score("license", 10, live=live) == []
    rest = execute_dsl(rd, {"match_all": {}}, k=10**6)
    assert before.isdisjoint({d for d, _ in rest}) and rest
    # DSL-form delete: match_all removes every remaining live doc
    st2 = delete_by_query(spark, out, {"match_all": {}})
    assert st2["deleted"] == len(rest)
    rd2 = MultiGenReader(spark, out)
    assert execute_dsl(rd2, {"match_all": {}}, k=10) == []
    # idempotent shape: nothing left to delete
    assert delete_by_query(spark, out, "license")["deleted"] == 0


def test_update_by_query_and_reindex(spark, tmp_path):
    from search_replica_spark.config import IndexConfig
    from search_replica_spark.corpus import generate_corpus
    from search_replica_spark.index.build import build_index
    from search_replica_spark.query.bm25 import IndexReader, TermAtATimeScorer
    from search_replica_spark.streaming.incremental import (
        MultiGenReader,
        reindex,
        source_view,
        update_by_query,
    )

    out = str(tmp_path / "ubqidx")
    build_index(
        spark, spark.createDataFrame(generate_corpus(120)), out,
        IndexConfig(shuffle_partitions=4, store_source=True),
    )
    matched = {d for d, _ in TermAtATimeScorer(IndexReader(spark, out)).score(
        "license", 10**6)}
    st = update_by_query(
        spark, out, "license", {"content": "concat(content, ' zzmarker')"}
    )
    assert st["updated"] == len(matched) > 0
    rd = MultiGenReader(spark, out)
    marked = {d for d, _ in TermAtATimeScorer(rd).score("zzmarker", 10**6,
                                                        live=rd._live)}
    assert marked == matched  # exactly the matched docs gained the marker

    # reindex: filtered copy carries the marker docs only, plain index
    dest = str(tmp_path / "reidx")
    st2 = reindex(spark, out, dest, where="content LIKE '%zzmarker%'")
    assert st2["n_docs"] == len(matched)
    hits = TermAtATimeScorer(IndexReader(spark, dest)).score("zzmarker", 10**6)
    assert {d for d, _ in hits} == matched
    # destination inherits the source's creation-time flags (store_source)
    assert source_view(spark, dest).count() == len(matched)


def test_execute_request_explain(dsl_index):
    from search_replica_spark.query.dsl import execute_request

    rd = dsl_index
    r = execute_request(rd, {"query": {"match": {"content": "apache license"}},
                             "size": 3, "explain": True})
    assert r["hits"]["hits"]
    for h in r["hits"]["hits"]:
        ex = h["_explanation"]
        assert ex, "every hit must decompose into term contributions"
        # the per-term contributions (each rounded 6dp) sum to the score
        assert abs(sum(e["contribution"] for e in ex) - h["_score"]) < 1e-5
        assert {e["term"] for e in ex} <= {"apache", "license"}


def test_percolator_store_and_dsl(spark, dsl_index):
    from search_replica_spark.corpus import generate_corpus
    from search_replica_spark.query.dsl import execute_dsl
    from search_replica_spark.query.percolator import (
        percolate,
        percolate_corpus,
        register_queries,
    )

    rd = dsl_index
    st = register_queries(spark, rd.index_dir, [
        (1, "apache license"),          # conjunctive: both terms
        (2, "spark"),                   # single term
        (3, "scan filter batch", 2),    # minimum_should_match = 2 of 3
        (4, "zzznothere"),              # never matches
    ])
    assert st["queries"] == 4

    doc = "the apache license governs this spark scan"
    got = percolate(rd.index_dir, doc)
    assert got == [(1, 1.0), (2, 1.0)]  # q3 has only 1 of 3 terms, q4 none
    got = percolate(rd.index_dir, {"content": "scan filter nothing"})
    assert got == [(3, 1.0)]  # 2-of-3 gate met
    # DSL kind routes to the same store
    assert execute_dsl(
        rd, {"percolate": {"document": {"content": doc}}}, k=10
    ) == [(1, 1.0), (2, 1.0)]

    # batch form agrees with the one-doc form on every corpus doc
    import pandas as pd

    c = generate_corpus(40)
    pdf = pd.DataFrame({"doc_id": range(len(c)), "content": c["content"]})
    docs = spark.createDataFrame(pdf)
    pairs = {(int(r["query_id"]), int(r["doc_id"]))
             for r in percolate_corpus(spark, rd.index_dir, docs).collect()}
    for i, text in enumerate(pdf["content"]):
        for qid, _s in percolate(rd.index_dir, text):
            assert (qid, i) in pairs
    for qid, did in pairs:
        assert (qid, 1.0) in percolate(rd.index_dir, pdf["content"][did])


def test_percolate_stream_alerts(spark, tmp_path):
    import pandas as pd

    from search_replica_spark.query.percolator import (
        percolate,
        percolate_stream,
        read_alerts,
        register_queries,
    )

    host = str(tmp_path / "pstore")
    register_queries(spark, host, [(1, "alpha beta"), (2, "gamma")])
    drop = tmp_path / "drops"
    drop.mkdir()
    out = str(tmp_path / "alerts_out")
    pd.DataFrame({"doc_id": [10, 11], "content": [
        "alpha beta gamma here", "nothing matches this"
    ]}).to_parquet(drop / "b0.parquet")

    q = percolate_stream(spark, str(drop), host, out,
                         "doc_id long, content string")
    q.awaitTermination(120)
    got = {(int(r["query_id"]), int(r["doc_id"]))
           for r in read_alerts(spark, out).collect()}
    assert got == {(1, 10), (2, 10)}
    # a second drop percolates incrementally; earlier alerts unchanged
    pd.DataFrame({"doc_id": [12], "content": ["gamma only"]}).to_parquet(
        drop / "b1.parquet"
    )
    q = percolate_stream(spark, str(drop), host, out,
                         "doc_id long, content string")
    q.awaitTermination(120)
    got = {(int(r["query_id"]), int(r["doc_id"]))
           for r in read_alerts(spark, out).collect()}
    assert got == {(1, 10), (2, 10), (2, 12)}
    # the one-doc form agrees with every emitted alert
    assert percolate(host, "gamma only") == [(2, 1.0)]


def test_dsl_intervals_any_of(dsl_index):
    from search_replica_spark.query.bm25 import (
        intervals_groups_match,
        intervals_match,
    )
    from search_replica_spark.query.dsl import execute_dsl

    rd = dsl_index
    n = rd.doc_arrays()[1].size
    # single-alternative groups == the verified flat intervals_match
    flat = intervals_match(rd, "apache license", max_gaps=2)
    assert intervals_groups_match(rd, [["apache"], ["license"]], max_gaps=2) == flat
    # an any_of union matches at least as much as either alternative alone
    u = intervals_groups_match(rd, [["apache"], ["license", "version"]], max_gaps=2)
    a1 = intervals_groups_match(rd, [["apache"], ["license"]], max_gaps=2)
    a2 = intervals_groups_match(rd, [["apache"], ["version"]], max_gaps=2)
    assert set(a1) | set(a2) <= set(u)
    # DSL any_of source routes here
    q = {"intervals": {"content": {"all_of": {
        "max_gaps": 2, "ordered": False,
        "intervals": [
            {"match": {"query": "apache"}},
            {"any_of": {"intervals": [{"match": {"query": "license"}},
                                      {"match": {"query": "version"}}]}},
        ],
    }}}}
    got = execute_dsl(rd, q, k=n)
    assert [d for d, _s in got] == u and all(s == 1.0 for _d, s in got)
