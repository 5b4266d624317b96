"""Print every answer of a fixed query matrix, and sha256 digests of them.

    python scripts/answer_digest.py [--root DIR] [--docs N] [--out FILE]

Builds two small indexes from the seeded synthetic corpus
(``generate_corpus``) in a temporary directory: a plain index with
positions, and a generational one of three generations (two batches, then
one that updates two docs and tombstones a third). It then answers a fixed
matrix over plain, shard and generational readers, pinned and not:
``execute_request`` bodies, term-at-a-time ``or``/``and``, ``bool_topk``
and ``phrase_topk`` (exact and ``slop=1``), plus the index-level
``serve_topk`` (``or``/``and``) over three shards and the distributed
plan's answers (``or``/``and``) on both indexes. The generational case
calls the plan by its ``bm25_topk_spark_multigen`` name, which every
version of the engine has.

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
    ]


def hits_line(hits) -> str:
    return " ".join(f"{int(d)}:{float(s).hex()}" for d, s in hits) or "-"


def answer(fn) -> str:
    try:
        return hits_line(fn())
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
    return cases


def build(spark, n_docs: int, tmp: str) -> tuple[str, str]:
    import pandas as pd

    from search_replica_spark.config import IndexConfig
    from search_replica_spark.corpus import generate_corpus
    from search_replica_spark.index.build import build_index
    from search_replica_spark.streaming.incremental import add_generation

    cfg = IndexConfig(
        shuffle_partitions=4, store_positions=True
    )
    corpus = generate_corpus(n_docs)
    plain = os.path.join(tmp, "plain")
    build_index(spark, spark.createDataFrame(corpus), plain, cfg)
    mg = os.path.join(tmp, "multigen")
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
            n = IndexReader(spark, plain).n_docs
            shard = (n // 3, 2 * n // 3)
            readers = {
                "plain": lambda: IndexReader(spark, plain),
                "shard": lambda: IndexReader(spark, plain, shard_range=shard),
                "multigen": lambda: MultiGenReader(spark, mg),
                "multigen-shard": lambda: MultiGenReader(spark, mg, shard_range=shard),
            }
            for group, make in readers.items():
                for pinned in (False, True):
                    r = make()
                    if pinned:
                        r.doc_arrays()
                        r.pin_driver(positions=True)
                    tag = "pinned" if pinned else "unpinned"
                    for case, fn in reader_cases(r):
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
