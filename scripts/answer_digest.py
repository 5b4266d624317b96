"""Print every answer of a fixed query matrix, and sha256 digests of them.

    python scripts/answer_digest.py [--root DIR] [--docs N] [--out FILE]

Builds two small indexes from the seeded synthetic corpus
(``generate_corpus``) in a temporary directory: a plain index with
positions, and a generational one of three generations (two batches, then
one that updates two docs and tombstones a third). It then answers a fixed
matrix over plain, shard and generational readers, pinned and not:
``execute_request`` bodies, term-at-a-time ``or``/``and``, ``bool_topk``,
``phrase_topk`` (exact and ``slop=1``) and the term-expanding queries
(``prefix_match`` capped and uncapped, ``fuzzy_match``,
``wildcard_match``, ``regexp_match``, ``match_phrase_prefix`` and
``completion_suggest``), plus the index-level
``serve_topk`` (``or``/``and``) over three shards and the distributed
plan's answers (``or``/``and``) on both indexes. The generational case
calls the plan by its ``bm25_topk_spark_multigen`` name, which every
version of the engine has. A third pair of indexes, plain and
generational, maps ``lang`` as a keyword field, for ``range_match`` and
``exists_match`` on the same reader kinds.

Each answer prints as one line, ``group | case | hits``, with every hit as
``doc_id:score`` and the score in float hex, so the line changes when any
bit of a score does. An exception prints as ``error <type>``. The last
lines are one sha256 per group and one over every line. ``--root`` imports
``search_replica_spark`` from another checkout, so running the script once
per checkout and diffing the outputs shows whether two versions of the
engine answer identically.
"""

from __future__ import annotations

import argparse
import functools
import hashlib
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


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--root", default=ROOT, help="checkout to import search_replica_spark from")
    ap.add_argument("--docs", type=int, default=300)
    ap.add_argument("--out", help="also write the lines to this file")
    args = ap.parse_args()
    sys.path.insert(0, os.path.abspath(args.root))

    from search_replica_spark.query.bm25 import IndexReader, bm25_topk_spark, serve_topk
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
            n = IndexReader(spark, plain).n_docs
            shard = (n // 3, 2 * n // 3)
            readers = {
                "plain": (lambda: IndexReader(spark, plain), reader_cases),
                "shard": (lambda: IndexReader(spark, plain, shard_range=shard), reader_cases),
                "multigen": (lambda: MultiGenReader(spark, mg), reader_cases),
                "multigen-shard": (lambda: MultiGenReader(spark, mg, shard_range=shard),
                                   reader_cases),
            }
            fielded = functools.partial(expansion_cases, expansions=FIELDED_EXPANSIONS)
            readers.update({
                "fielded plain": (lambda: IndexReader(spark, fplain), fielded),
                "fielded shard": (lambda: IndexReader(spark, fplain, shard_range=shard),
                                  fielded),
                "fielded multigen": (lambda: MultiGenReader(spark, fmg), fielded),
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
            for q in QUERIES:
                for name, idx in (("plain", plain), ("multigen", mg)):
                    lines.append(("sharded", f"serve_topk {name} {q!r} | " + answer(
                        lambda: serve_topk(spark, idx, q, 10, min_docs=0, target_docs=n // 3))))
                    lines.append(("sharded", f"serve_topk and {name} {q!r} | " + answer(
                        lambda: serve_topk(spark, idx, q, 10, mode="and", min_docs=0,
                                           target_docs=n // 3))))
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
