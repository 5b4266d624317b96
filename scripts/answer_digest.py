"""Print every answer of a fixed query matrix, and sha256 digests of them.

    python scripts/answer_digest.py [--root DIR] [--docs N] [--out FILE]

Builds two small indexes from the seeded synthetic corpus
(``generate_corpus``) in a temporary directory: a plain index with
positions, and a generational one of three generations (two batches, then
one that updates two docs and tombstones a third). It then answers a fixed
matrix over plain and generational readers, pinned and not:
``execute_request`` bodies, term-at-a-time ``or``/``and``, ``bool_topk``,
``phrase_topk`` (exact and ``slop=1``) and the term-expanding queries
(``prefix_match`` capped and uncapped, ``fuzzy_match``,
``wildcard_match``, ``regexp_match``, ``match_phrase_prefix`` and
``completion_suggest``), plus the distributed plan's answers
(``or``/``and``) on both indexes. The generational case
calls the plan by its ``bm25_topk_spark_multigen`` name, which every
version of the engine has. A third pair of indexes, plain and
generational, maps ``lang`` as a keyword field, for ``range_match`` and
``exists_match`` on the same reader kinds. A fourth pair stores
``_source`` (the generational one gains a fourth generation whose partial
update nulls ``lang`` on three docs) for the fetch phase on plain and
generational readers: ``highlight`` (default and custom tags and fragment
size), every flat agg kind under a ``match``, under ``match_all`` and
under a match with no hits, stored-field sorts on ``doc_len``, ``path``
and the nullable ``lang``, ``more_like_this`` by ``_id`` (an updated doc
and a deleted one) and the terms lookup (request form, and ``terms_lookup``
with and without ``max_terms``).

Each answer prints as one line, ``group | case | hits``, with every hit as
``doc_id:score`` and the score in float hex, so the line changes when any
bit of a score does; a fetch-phase answer prints as its whole response in
sorted-key JSON, so an int that turns into a float changes it too. An exception prints as ``error <type>``. The last
lines are one sha256 per group and one over every line. ``--root`` imports
``search_replica_spark`` from another checkout, so running the script once
per checkout and diffing the outputs shows whether two versions of the
engine answer identically.
"""

from __future__ import annotations

import argparse
import functools
import hashlib
import inspect
import json
import os
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

QUERIES = [
    "license",
    "license apache",
    "def return",
    "apache license version",
    "the license",
    "docran typcap",
    "catval resnum return",
    "zzqqabsentqq",
    "license zzqqabsentqq",
]


def bodies() -> list[tuple[str, dict]]:
    def match(text, op="or", **extra):
        return {"query": {"match": {"content": {"query": text, "operator": op}}}, **extra}

    return [
        ("match", match("license apache")),
        ("match size=100", match("license apache", size=100)),
        ("match and", match("def return", "and", size=100)),
        ("match from=5", match("the license", **{"from": 5})),
        ("match sort=_doc", match("def return", sort=["_doc"])),
        ("match min_score", match("license apache", size=100, min_score=1.0)),
        ("match absent", match("license zzqqabsentqq", "and")),
        ("bool", {"query": {"bool": {
            "must": [{"match": {"content": "license"}}],
            "should": [{"match": {"content": "apache"}}],
            "must_not": [{"match": {"content": "return"}}]}}, "size": 20}),
        ("match_phrase", {"query": {"match_phrase": {"content": "apache license"}}}),
        ("match_phrase slop=1", {"query": {"match_phrase": {
            "content": {"query": "license apache", "slop": 1}}}, "size": 20}),
        ("prefix", {"query": {"prefix": {"content": "de"}}, "size": 100}),
        ("fuzzy", {"query": {"fuzzy": {"content": {"value": "licence"}}}, "size": 100}),
        ("wildcard", {"query": {"wildcard": {"content": "d?l*"}}, "size": 100}),
        ("regexp", {"query": {"regexp": {"content": "ver(s|t).*"}}, "size": 100}),
        ("match_phrase_prefix", {"query": {"match_phrase_prefix": {
            "content": "apache lic"}}, "size": 100}),
    ]


# (name, function name in query.bm25, args, kwargs) of the term-expanding
# queries; each answers constant-score doc_ids, or (term, weight) pairs
EXPANSIONS = [
    ("prefix 'lic'", "prefix_match", ("lic",), {}),
    ("prefix 's' capped", "prefix_match", ("s",), {}),
    ("prefix 's' max_expansions=5", "prefix_match", ("s",), {"max_expansions": 5}),
    ("prefix 's' uncapped", "prefix_match", ("s",), {"max_expansions": None}),
    ("prefix absent", "prefix_match", ("zzq",), {"max_expansions": None}),
    ("fuzzy 'licence'", "fuzzy_match", ("licence",), {}),
    ("fuzzy 'versab' fuzziness=2", "fuzzy_match", ("versab",), {"fuzziness": 2}),
    ("fuzzy 'delrl' prefix_length=2 max_expansions=3", "fuzzy_match", ("delrl",),
     {"fuzziness": 2, "prefix_length": 2, "max_expansions": 3}),
    ("wildcard 'lic*se'", "wildcard_match", ("lic*se",), {}),
    ("wildcard 'd?l*'", "wildcard_match", ("d?l*",), {"max_expansions": None}),
    ("wildcard 're*' max_expansions=4", "wildcard_match", ("re*",), {"max_expansions": 4}),
    ("regexp 'lic.*'", "regexp_match", ("lic.*",), {}),
    ("regexp 'ver(s|t).*'", "regexp_match", ("ver(s|t).*",), {"max_expansions": None}),
    ("regexp 'de[a-l]+'", "regexp_match", ("de[a-l]+",), {}),
    ("regexp 'sa.' max_expansions=2", "regexp_match", ("sa.",), {"max_expansions": 2}),
    ("match_phrase_prefix 'apache lic'", "match_phrase_prefix", ("apache lic",), {}),
    ("match_phrase_prefix 'lic'", "match_phrase_prefix", ("lic",), {}),
    ("match_phrase_prefix 'def re' max_expansions=3", "match_phrase_prefix", ("def re",),
     {"max_expansions": 3}),
    ("completion 'li'", "completion_suggest", ("li",), {}),
    ("completion 'd' size=20", "completion_suggest", ("d",), {"size": 20}),
]

# the same for the keyword-mapped ``lang`` field of the fielded indexes
FIELDED_EXPANSIONS = [
    ("range lang [go, js]", "range_match", ("lang",), {"gte": "go", "lte": "js"}),
    ("range lang >= java", "range_match", ("lang",), {"gte": "java"}),
    ("range lang <= go", "range_match", ("lang",), {"lte": "go"}),
    ("range lang [js, go]", "range_match", ("lang",), {"gte": "js", "lte": "go"}),
    ("range lang [c, md] max_expansions=2", "range_match", ("lang",),
     {"gte": "c", "lte": "md", "max_expansions": 2}),
    ("exists lang", "exists_match", ("lang",), {}),
    ("exists absent", "exists_match", ("zzq",), {}),
    ("prefix 'lang:j'", "prefix_match", ("lang:j",), {"max_expansions": None}),
]


def fetch_bodies(lookup_id: int, deleted_id: int) -> list[tuple[str, dict]]:
    """The fetch-phase request bodies: ``lookup_id`` names a doc updated in
    the generational index, ``deleted_id`` one it tombstones."""
    match = {"match": {"content": "license apache"}}
    out = [
        ("highlight", {"query": match, "size": 5, "highlight": {"fields": {"content": {}}}}),
        ("highlight custom", {"query": match, "size": 5, "highlight": {
            "pre_tags": ["[["], "post_tags": ["]]"],
            "fields": {"content": {"fragment_size": 30}}}}),
    ]
    aggs = {
        "terms lang": {"terms": {"field": "lang", "size": 4}},
        "terms doc_len": {"terms": {"field": "doc_len", "size": 5}},
        "stats doc_len": {"stats": {"field": "doc_len"}},
        "min doc_len": {"min": {"field": "doc_len"}},
        "max doc_len": {"max": {"field": "doc_len"}},
        "min path": {"min": {"field": "path"}},
        "max lang": {"max": {"field": "lang"}},
        "sum doc_len": {"sum": {"field": "doc_len"}},
        "avg doc_len": {"avg": {"field": "doc_len"}},
        "value_count lang": {"value_count": {"field": "lang"}},
        "cardinality lang": {"cardinality": {"field": "lang"}},
        "histogram doc_len": {"histogram": {"field": "doc_len", "interval": 25}},
    }
    for qname, query in (("match", {"query": match}), ("match_all", {})):
        out += [(f"aggs {name} {qname}", {**query, "size": 0, "aggs": {"a": agg}})
                for name, agg in aggs.items()]
    out.append(("aggs all no hits", {"query": {"match": {"content": "zzqqabsentqq"}},
                                     "aggs": {n.replace(" ", "_"): a for n, a in aggs.items()}}))
    for field in ("doc_len", "path"):
        for order in ("asc", "desc"):
            out.append((f"sort {field} {order} from=10", {
                "query": {"match": {"content": "license"}},
                "sort": [{field: {"order": order}}], "from": 10, "size": 10}))
    for order in ("asc", "desc"):
        out.append((f"sort lang {order} match_all", {
            "sort": [{"lang": {"order": order}}], "size": 400}))
    for name, doc in (("updated", lookup_id), ("deleted", deleted_id)):
        out += [
            (f"mlt by _id {name}", {"query": {"more_like_this": {"like": {"_id": doc}}},
                                    "size": 10}),
            (f"mlt by _id {name} include", {"query": {"more_like_this": {
                "like": {"_id": doc}, "include": True}}, "size": 10}),
            (f"terms lookup {name}", {"query": {"terms": {"content": {
                "index": "self", "id": doc, "path": "content"}}}, "size": 100}),
        ]
    return out


def fetch_cases(r, lookup_id: int, deleted_id: int) -> list[tuple[str, object]]:
    from search_replica_spark.query import bm25
    from search_replica_spark.query.dsl import execute_request

    def lookup(doc, **kw):
        # the Spark GET of earlier versions took the session and the index dir
        if "spark" in inspect.signature(bm25.terms_lookup).parameters:
            kw.update(spark=r.spark, index_dir=r.index_dir)
        return [(d, 1.0) for d in bm25.terms_lookup(r, lookup_doc_id=doc, **kw)]

    cases = [(f"request {name}",
              lambda b=b: json.dumps(execute_request(r, b), sort_keys=True))
             for name, b in fetch_bodies(lookup_id, deleted_id)]
    for name, doc in (("updated", lookup_id), ("deleted", deleted_id)):
        cases += [(f"terms_lookup {name}", lambda d=doc: lookup(d)),
                  (f"terms_lookup {name} max_terms=3", lambda d=doc: lookup(d, max_terms=3))]
    return cases


def hits_line(hits) -> str:
    return " ".join(f"{int(d)}:{float(s).hex()}" for d, s in hits) or "-"


def answer(fn) -> str:
    try:
        out = fn()
        return out if isinstance(out, str) else hits_line(out)
    except Exception as exc:  # an error is an answer too: it must match
        return f"error {type(exc).__name__}"


def reader_cases(r) -> list[tuple[str, object]]:
    from search_replica_spark.query.bm25 import (
        TermAtATimeScorer,
        bool_topk,
        phrase_topk,
    )
    from search_replica_spark.query.dsl import execute_request

    live = getattr(r, "_live", None)
    cases = []
    for q in QUERIES:
        cases += [
            (f"tata or {q!r}", lambda q=q: TermAtATimeScorer(r).score(q, 10, live=live)),
            (f"tata and {q!r}",
             lambda q=q: TermAtATimeScorer(r).score(q, 10, mode="and", live=live)),
            (f"bool {q!r}", lambda q=q: bool_topk(
                r, must=q.split()[:1], should=q.split()[1:], must_not=["zzqqabsentqq"],
                k=10, live=live)),
            (f"bool must_not {q!r}",
             lambda q=q: bool_topk(r, should=[q], must_not=["return"], k=10, live=live)),
            (f"phrase {q!r}", lambda q=q: phrase_topk(r, q, 10, live=live)),
            (f"phrase slop=1 {q!r}", lambda q=q: phrase_topk(r, q, 10, slop=1, live=live)),
        ]

    def request(body):
        resp = execute_request(r, body)
        hits = [(h["_id"], h["_score"] or 0.0) for h in resp["hits"]["hits"]]
        return [(resp["hits"]["total"]["value"], 0.0), *hits]

    cases += [(f"request {name}", lambda b=b: request(b)) for name, b in bodies()]
    return cases + expansion_cases(r, EXPANSIONS)


def expansion_cases(r, expansions) -> list[tuple[str, object]]:
    from search_replica_spark.query import bm25

    def run(fn, args, kw):
        out = getattr(bm25, fn)(r, *args, **kw)
        if fn == "completion_suggest":
            return " ".join(f"{t}:{w}" for t, w in out) or "-"
        return [(d, 1.0) for d in out]

    return [(name, lambda f=fn, a=args, kw=kw: run(f, a, kw))
            for name, fn, args, kw in expansions]


def build(spark, n_docs: int, tmp: str, tag: str = "", **fields) -> tuple[str, str]:
    import pandas as pd

    from search_replica_spark.config import IndexConfig
    from search_replica_spark.corpus import generate_corpus
    from search_replica_spark.index.build import build_index
    from search_replica_spark.streaming.incremental import add_generation

    cfg = IndexConfig(shuffle_partitions=4, store_positions=True, **fields)
    corpus = generate_corpus(n_docs)
    plain = os.path.join(tmp, "plain" + tag)
    build_index(spark, spark.createDataFrame(corpus), plain, cfg)
    mg = os.path.join(tmp, "multigen" + tag)
    half = n_docs // 2
    add_generation(spark, spark.createDataFrame(corpus.iloc[:half]), mg, cfg)
    add_generation(spark, spark.createDataFrame(corpus.iloc[half:]), mg, cfg)
    upd = corpus.iloc[[4, 7]].copy()
    upd["content"] = upd["content"] + " license apache license"
    upd["_change_type"] = "update"
    dele = corpus.iloc[[11]].copy()
    dele["_change_type"] = "delete"
    add_generation(spark, spark.createDataFrame(pd.concat([upd, dele])), mg, cfg)
    return plain, mg


def build_source(spark, n_docs: int, tmp: str) -> tuple[str, str, int, int]:
    """``build``'s two indexes with stored ``_source``; the generational
    one gains a generation whose partial update nulls ``lang`` on three
    docs. Returns them with the doc_ids of an updated and a deleted doc."""
    from search_replica_spark.corpus import generate_corpus
    from search_replica_spark.oracle import doc_id_of
    from search_replica_spark.streaming.incremental import add_generation

    plain, mg = build(spark, n_docs, tmp, "-source", store_source=True)
    corpus = generate_corpus(n_docs)
    unset = corpus.iloc[[20, 21, 22]][["repo", "path"]].copy()
    for c in ("commit", "lang", "content"):
        unset[c] = None
    unset["_change_type"] = "update_partial"
    unset["_unset"] = [["lang"]] * 3
    add_generation(spark, spark.createDataFrame(unset), mg)
    ids = [doc_id_of(corpus["repo"][i], corpus["path"][i]) for i in (4, 11)]
    return plain, mg, *ids


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--root", default=ROOT, help="checkout to import search_replica_spark from")
    ap.add_argument("--docs", type=int, default=300)
    ap.add_argument("--out", help="also write the lines to this file")
    args = ap.parse_args()
    sys.path.insert(0, os.path.abspath(args.root))

    from search_replica_spark.query.bm25 import IndexReader, bm25_topk_spark
    from search_replica_spark.session import get_spark
    from search_replica_spark.streaming.incremental import (
        MultiGenReader,
        bm25_topk_spark_multigen,
    )

    spark = get_spark("answer_digest", cores=2, shuffle_partitions=4,
                      extra={"spark.driver.memory": "2g"})
    lines: list[tuple[str, str]] = []
    try:
        with tempfile.TemporaryDirectory(prefix="answer_digest_") as tmp:
            plain, mg = build(spark, args.docs, tmp)
            fplain, fmg = build(spark, args.docs, tmp, "-fielded",
                                field_analyzers=(("content", "text"), ("lang", "keyword")))
            splain, smg, updated, deleted = build_source(spark, args.docs, tmp)
            readers = {
                "plain": (lambda: IndexReader(spark, plain), reader_cases),
                "multigen": (lambda: MultiGenReader(spark, mg), reader_cases),
            }
            fielded = functools.partial(expansion_cases, expansions=FIELDED_EXPANSIONS)
            readers.update({
                "fielded plain": (lambda: IndexReader(spark, fplain), fielded),
                "fielded multigen": (lambda: MultiGenReader(spark, fmg), fielded),
            })
            fetch = functools.partial(fetch_cases, lookup_id=updated, deleted_id=deleted)
            readers.update({
                "fetch plain": (lambda: IndexReader(spark, splain), fetch),
                "fetch multigen": (lambda: MultiGenReader(spark, smg), fetch),
            })
            for group, (make, cases_of) in readers.items():
                for pinned in (False, True):
                    r = make()
                    if pinned:
                        r.doc_arrays()
                        r.pin_driver(positions=True)
                    tag = "pinned" if pinned else "unpinned"
                    for case, fn in cases_of(r):
                        lines.append((group, f"{tag} {case} | {answer(fn)}"))
            plans = (("plain", plain, bm25_topk_spark), ("multigen", mg, bm25_topk_spark_multigen))
            for q in QUERIES:
                for name, idx, plan in plans:
                    for mode in ("or", "and"):
                        lines.append(("distributed", f"spark {mode} {name} {q!r} | " + answer(
                            lambda: [(r["doc_id"], r["score"]) for r in
                                     plan(spark, idx, q, 10, mode=mode).collect()])))
    finally:
        spark.stop()

    text = [f"{g} | {line}" for g, line in lines]
    groups = dict.fromkeys(g for g, _ in lines)
    for g in groups:
        body = "\n".join(t for t, (gg, _) in zip(text, lines) if gg == g)
        text.append(f"sha256 {g} {hashlib.sha256(body.encode()).hexdigest()}")
    every = "\n".join(t for t in text if not t.startswith("sha256 "))
    text.append(f"sha256 all {hashlib.sha256(every.encode()).hexdigest()} ({len(lines)} answers)")
    out = "\n".join(text) + "\n"
    sys.stdout.write(out)
    if args.out:
        with open(args.out, "w") as f:
            f.write(out)
    return 0


if __name__ == "__main__":
    sys.exit(main())
